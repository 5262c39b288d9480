"""Physical-plan audits: the scale properties the docstrings claim must
actually appear in the executed plan — filters pushed to the parquet
scan, columns pruned, dimension joins broadcast, top-k as TakeOrdered,
and the CEP pattern match at exactly one Exchange."""

from __future__ import annotations

import pytest

from flink_cep_examples_spark.queries import QUERIES, load_all

load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_small):
    return {
        n: _plan(QUERIES[n](spark, sf_small))
        for n in [
            "q1_pricing_summary",
            "q3_top_unshipped_orders",
            "q5_regional_revenue",
            "ann_bruteforce_topk",
            "ann_lsh_topk",
            "ann_batch_topk",
            "embedding_cosine_dups",
            "cep_alert_reactions",
            "text_token_stats",
            "q4_late_order_counts",
            "q6_revenue_delta",
            "q22_quiet_rich_customers",
        ]
    }


def test_q1_filter_pushed_and_columns_pruned(plans):
    p = plans["q1_pricing_summary"]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # projection needs 7 of 11 lineitem columns; the scan must not read more
    schema_line = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in schema_line and "l_partkey" not in schema_line


def test_dim_joins_aqe_chosen_never_nested_loop(spark, sf_small):
    """customer/supplier/part scale with SF (150k/10k/200k x SF) — a
    forced broadcast would OOM at warehouse scale, so those joins must
    carry NO mandatory hint (AQE/static stats pick the strategy from
    runtime sizes) and must never degrade to a nested loop. Only the
    fixed-cardinality sides (nation 25 / region 5 rows, one-row
    scalars) may keep an explicit hint."""
    for name in ("q3_top_unshipped_orders", "q5_regional_revenue"):
        df = QUERIES[name](spark, sf_small)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        for line in optimized.splitlines():
            if "strategy=broadcast" in line:
                # hints survive only on the fixed dims
                assert "customer" not in line and "supplier" not in line, (
                    name,
                    line,
                )
        df.collect()  # materialize so AQE finalizes its join choices
        final = _plan(df)
        assert "isFinalPlan=true" in final, name
        # equi hash/merge joins only — never a cartesian/nested loop
        assert "CartesianProduct" not in final, name
        assert "BroadcastNestedLoopJoin" not in final, name
        # at this SF the dims are tiny: the chosen strategy is still
        # broadcast (proving we lost nothing locally by unforcing it)
        assert "BroadcastHashJoin" in final, name


def test_topk_is_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans["q3_top_unshipped_orders"]
    assert "TakeOrderedAndProject" in plans["ann_bruteforce_topk"]


def test_ann_probe_side_broadcast(plans):
    """Multi-probe LSH: the exploded probe list (the tiny side) must be
    broadcast — the big embeddings side joins buckets without a
    shuffle-for-join."""
    p = plans["ann_lsh_topk"]
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_batch_ann_bucket_join_is_hash_not_cross(plans):
    """Batched top-k joins corpus to probes on bucket equality — a
    BroadcastHashJoin on the bucket id, never a nested-loop cross; the
    per-query rank is one window, no global sort."""
    p = plans["ann_batch_topk"]
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Window" in p


def test_cosine_dup_pair_join_ships_keys_not_vectors(plans):
    """The pair-blocking join's streamed probe side must carry only
    (vec_id, bucket-probe) — embeddings re-enter by id after blocking,
    so no Exchange ships a 697x-exploded embedding column."""
    p = plans["embedding_cosine_dups"]
    for line in p.splitlines():
        if "Exchange hashpartitioning(pbucket" in line:
            assert "embedding" not in line


def test_cep_match_single_exchange(plans, spark, sf_small):
    """One scan, one hash Exchange on the key — the balance window and
    the pattern match ride a single shuffle (sources/billing.py keys the
    window by the match key) — and one Sort, because the window and the
    scan order by the same expressions. The ``datetime`` measure source
    is formatted above the Exchange, in the post-shuffle tasks."""
    assert plans["cep_alert_reactions"].count("Exchange") == 1
    billing_plans = {
        n: _plan(QUERIES[n](spark, sf_small))
        for n in [
            "cep_match_recognize",
            "cep_alerts_with_timeouts",
            "cep_alerts_with_timeouts_nfa",
            "cep_keyed_process",
        ]
    }
    billing_plans["cep_alert_reactions"] = plans["cep_alert_reactions"]
    for name, p in billing_plans.items():
        lines = p.splitlines()
        exchanges = [i for i, l in enumerate(lines) if "Exchange" in l]
        assert len(exchanges) == 1, (name, p)
        assert sum(l.lstrip("+- :").startswith("Sort [") for l in lines) == 1, (name, p)
        formats = [i for i, l in enumerate(lines) if "date_format(" in l]
        # the tree prints parents first: above the Exchange = earlier lines
        assert formats and max(formats) < exchanges[0], (name, p)


def test_absence_fast_path_single_exchange_no_python(spark, sf_small):
    """The timed-absence closed form: one key Exchange, no Python
    stage (no mapInPandas / ArrowEvalPython in the plan)."""
    p = _plan(QUERIES["cep_absence_not_followed_by"](spark, sf_small))
    assert p.count("Exchange") == 1
    assert "Python" not in p and "mapInPandas" not in p.lower()


def test_exists_plans_as_semi_join(plans):
    """Q4's EXISTS must run as LeftSemi (probe-side dedup inside the
    join, match multiplicity never materialized) — not an inner join +
    distinct."""
    p = plans["q4_late_order_counts"]
    assert "LeftSemi" in p
    # the probe scan reads only the two lineitem columns the condition needs
    li_schema = [l for l in p.splitlines() if "ReadSchema" in l and "l_orderkey" in l]
    assert li_schema and all(
        "l_extendedprice" not in l and "l_quantity" not in l for l in li_schema
    )


def test_not_exists_plans_as_anti_join(plans):
    """Q22's NOT EXISTS must run as LeftAnti with the filtered orders
    probe broadcast (tiny after the o_totalprice pushdown)."""
    p = plans["q22_quiet_rich_customers"]
    assert "LeftAnti" in p
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in p


def test_scalar_agg_pushes_all_filters(plans):
    """Q6: all four predicates reach the parquet scan; the aggregate
    input is pre-filtered rows only."""
    p = plans["q6_revenue_delta"]
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col


def test_scan_pipeline_only_rebalances(plans):
    """Text pipelines shuffle exactly once — the deliberate spread()
    rebalance ahead of per-row compute — and nothing else."""
    assert plans["text_token_stats"].count("Exchange") == 1


def test_decontam_eval_side_broadcast(spark, sf_small):
    """Decontamination must join the corpus against a BROADCAST eval
    hash set — the corpus never shuffles on the window hash."""
    p = _plan(QUERIES["docs_decontaminate"](spark, sf_small))
    assert "BroadcastHashJoin" in p
    # the only Exchanges are the per-doc window sort (and its eval-side
    # twin) + the final per-doc count — never a corpus-wide hash join
    assert "SortMergeJoin" not in p


def test_mixture_sample_rate_table_broadcast(spark, sf_small):
    """Mixture rebalance: the derived rate table is broadcast; the
    corpus-side pass is scan + broadcast join + filter with no
    corpus-wide Exchange."""
    p = _plan(QUERIES["docs_mixture_sample"](spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_token_budget_mix_live_buckets_broadcast(spark, sf_small):
    """Token-budget mix: the live-bucket table joins the corpus by
    broadcast (never a corpus-wide shuffle join), so the only
    corpus-keyed Exchange is the boundary-bucket window over ~1/4096
    of the rows."""
    p = _plan(QUERIES["docs_token_budget_mix"](spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_packing_is_single_shuffle(spark, sf_small):
    """Sequence packing: exactly one Exchange (the bucket groupBy);
    token counting stays in the scan stage."""
    p = _plan(QUERIES["docs_pack_sequences"](spark, sf_small))
    assert p.count("Exchange") == 1


def test_pipeline_anti_join_not_forced_broadcast(spark, sf_small):
    """The near-dup loser set scales with the corpus duplicate fraction
    (20-50% of docs at 100 TB) — the left_anti that removes it must NOT
    carry a mandatory broadcast hint; AQE picks the strategy from the
    runtime size of the single id column."""
    df = QUERIES["corpus_clean_pipeline"](spark, sf_small)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    for line in optimized.splitlines():
        if "Join LeftAnti" in line:
            assert "strategy=broadcast" not in line, line


def test_interval_join_is_equi_join_with_range_residual(spark, sf_small):
    """The batch interval join must plan as an EQUI-join on the key
    with the time range as residual condition (broadcast-hash at this
    SF; sort-merge once both sides are big) — never a nested loop over
    the range."""
    p = _plan(QUERIES["events_funnel_interval_join"](spark, sf_small))
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_lsh_search_broadcast_is_optional(spark, sf_small):
    """broadcast_probes=False must leave NO mandatory broadcast hint on
    the probe join — corpus-scale query batches rely on AQE choosing
    the strategy from runtime size (same contract as the pipeline
    anti-join)."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.queries.similarity import lsh_search
    from flink_cep_examples_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    df = lsh_search(
        emb, F.col("vec_id") % 100 == 0, broadcast_probes=False
    )
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized


def test_positional_fast_path_single_exchange_no_python(spark, sf_small):
    """The positional SKIP TO fast path must stay pure-JVM: one hash
    Exchange on the key, zero Python evaluators (the NFA tier it
    replaces is a BatchEvalPython plan)."""
    p = _plan(QUERIES["cep_skip_to_last"](spark, sf_small))
    assert p.count("Exchange") == 1, p
    assert "Python" not in p, p


def test_tpch_completion_no_nested_loops(spark, sf_small):
    """Round-4 TPC-H completion (Q2..Q21): every plan must be hash/
    broadcast joins only — an accidental cartesian or nested loop on
    the fact-fact shapes would be the 100 TB killer."""
    # q11/q15 carry ONE BroadcastNestedLoopJoin by design: the scalar
    # threshold/max is a one-row aggregate crossJoined back broadcast
    # (the q22 shape) — a 1-row build side is free at any scale.
    scalar_cross = {"q11_important_stock": 1, "q15_top_supplier": 1}
    for name in (
        "q2_min_cost_supplier",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_type_profit",
        "q11_important_stock",
        "q13_order_count_distribution",
        "q15_top_supplier",
        "q16_supplier_part_counts",
        "q20_part_promotion_suppliers",
        "q21_waiting_suppliers",
    ):
        p = _plan(QUERIES[name](spark, sf_small))
        assert "CartesianProduct" not in p, name
        # <=: Catalyst may rewrite the scalar crossJoin into an
        # equi-join outright (q15's equality filter), which is fine
        assert p.count("BroadcastNestedLoopJoin") <= scalar_cross.get(
            name, 0
        ), name


def test_q21_semi_and_anti_joins(spark, sf_small):
    """Q21's EXISTS / NOT EXISTS double correlation must plan as real
    LeftSemi + LeftAnti joins (not subquery re-scans)."""
    p = _plan(QUERIES["q21_waiting_suppliers"](spark, sf_small))
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "TakeOrderedAndProject" in p  # top-10 is a heap, not a sort


def test_q2_correlated_min_aqe_back_join(spark, sf_small):
    """Q2's per-part MIN back-join: ``best`` scales with |part|, so no
    forced broadcast — AQE picks the strategy at runtime. At this SF it
    still resolves to broadcast; at any SF it must never be a nested
    loop."""
    df = QUERIES["q2_min_cost_supplier"](spark, sf_small)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # exactly the two fixed-dim hints (nation, region) survive; the
    # part / best / euro_supp joins carry none
    assert optimized.count("strategy=broadcast") <= 2
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "BroadcastHashJoin" in final


def test_ivf_persisted_search_prunes_partitions(spark, sf_small):
    """The persisted-index search must read ONLY the probe lists: the
    parquet scan carries PartitionFilters on cid (at a billion vectors
    this is the difference between touching NPROBE/K of the files and
    all of them)."""
    p = _plan(QUERIES["ivf_persisted_topk"](spark, sf_small))
    scan_lines = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert any("cid" in l for l in scan_lines), scan_lines


def test_mmr_ivf_persisted_serves_without_training(
    spark, sf_small, monkeypatch
):
    """ann_mmr_ivf_persisted_topk (round 14): after the session's one
    training pass, SERVE time must involve NO training action — the
    candidate stage is one partition-pruned scan of the index lists
    (PartitionFilters on cid) feeding the bounded MMR rerank. Pinned
    by (a) poisoning write_ivf_index after the first call and serving
    again, (b) auditing the candidate-stage plan, (c) row-for-row
    equality with the inline-training form (same oracle both ways)."""
    import flink_cep_examples_spark.queries.ivf as ivf_mod

    first = QUERIES["ann_mmr_ivf_persisted_topk"](spark, sf_small)
    first_rows = [tuple(r) for r in first.collect()]

    def _no_training(*a, **k):  # pragma: no cover - must never fire
        raise AssertionError("serve path invoked training")

    monkeypatch.setattr(ivf_mod, "write_ivf_index", _no_training)
    served = QUERIES["ann_mmr_ivf_persisted_topk"](spark, sf_small)
    assert [tuple(r) for r in served.collect()] == first_rows

    # candidate-stage plan: partition-pruned index scan, no retrain
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_small.encode()).hexdigest()[:10]
    index_dir = f"{tempfile.gettempdir()}/spark_graft_ivf_index_{tag}"
    from flink_cep_examples_spark.queries.similarity import MMR_M

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qvec = [
        float(x)
        for x in emb.filter(emb.vec_id == ivf_mod.QUERY_VEC_ID)
        .select("embedding")
        .first()
        .embedding
    ]
    cand = ivf_mod.ivf_search_persisted(
        spark, index_dir, qvec, top_k=MMR_M,
        exclude_vec_id=ivf_mod.QUERY_VEC_ID,
    )
    p = _plan(cand)
    scan_lines = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert any("cid" in l for l in scan_lines), scan_lines

    # the persisted serve equals the inline-training catalog form
    inline = [
        tuple(r)
        for r in QUERIES["ann_mmr_ivf_topk"](spark, sf_small).collect()
    ]
    assert first_rows == inline


def test_bm25_persisted_search_prunes_buckets(spark, sf_small):
    """The inverted-index search must read ONLY the query terms'
    bucket partitions (PartitionFilters on term_bucket) with the term
    IN (...) filter pushed to the scan, and must agree row-for-row
    with the corpus-scan path (shared scoring kernel)."""
    df = QUERIES["bm25_persisted_topk"](spark, sf_small)
    p = _plan(df)
    scan_lines = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert any("term_bucket" in l for l in scan_lines), scan_lines
    assert "In(term" in p
    scan = QUERIES["docs_bm25_topk"](spark, sf_small).collect()
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in scan]


def test_source_overlap_joins_on_int_hash(spark, sf_small):
    """The cross-source join ships only (source, wh) int pairs — no
    text columns reach the self-join."""
    p = _plan(QUERIES["docs_source_overlap"](spark, sf_small))
    join_lines = [l for l in p.splitlines() if "SortMergeJoin" in l or "BroadcastHashJoin" in l]
    assert join_lines and not any("text" in l for l in join_lines)


def test_dedup_keep_best_persisted_serves_off_map(spark, sf_small, tmp_path):
    """The persisted cluster map is train-once/serve-many (round 13):
    the SERVE plan must read only the map — no documents scan, no
    MinHash/band-join recompute — and a per-cluster lookup must prune
    to its bucket's partitions (PartitionFilters on cluster_bucket).
    The served result equals the recompute path row-for-row."""
    from pyspark.sql import functions as F

    from flink_cep_examples_spark.queries.dedup import (
        keep_best_from_map,
        write_dedup_cluster_map,
    )

    idx = str(tmp_path / "dedup_map")
    write_dedup_cluster_map(spark, sf_small, idx)

    served = keep_best_from_map(spark, idx)
    p = _plan(served)
    assert "documents" not in p, "serve plan rescans the corpus"
    assert p.count("Scan parquet") == 1, "serve plan reads more than the map"
    # exactly one exchange: the cluster_id window (no LSH shuffles)
    assert p.count("Exchange hashpartitioning") == 1, p

    recompute = QUERIES["dedup_keep_best"](spark, sf_small)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, recompute.collect())
    )

    # per-cluster lookup prunes: filter on the bucket column reaches
    # the scan as a PartitionFilter
    one = spark.read.parquet(f"{idx}/cluster_map").filter(
        F.col("cluster_bucket") == 3
    )
    scan_lines = [
        l for l in _plan(one).splitlines() if "PartitionFilters" in l
    ]
    assert any("cluster_bucket" in l for l in scan_lines), scan_lines


def test_ingest_pipeline_stage_boundary_is_durable_file_scan(
    spark, sf_small
):
    """VERDICT r14 item 2: the composed ingest pipeline's stage
    boundary must be a DURABLE persist — the returned frame's plan
    roots at a parquet scan of the materialized survivors, and the
    survivors-join lineage (the decontaminate anti-join + the quality
    inner join) appears ZERO times downstream, so no plan shape can
    union two copies of it (the AQE reused-exchange crash at the
    100×-replica probe) and a lost executor re-reads the file instead
    of failing the job (the localCheckpoint hazard)."""
    df = QUERIES["corpus_ingest_pipeline"](spark, sf_small)
    plan = _plan(df)
    assert "spark_graft_stage_ingest_survivors" in plan, plan[:2000]
    # the upstream join lineage is fully cut at the boundary: the
    # downstream plan contains no anti-join (decontamination) at all
    assert "LeftAnti" not in plan, plan[:2000]
