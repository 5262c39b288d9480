"""Scaling smoke: replicate the sf0.1 tables K× into DISJOINT key
spaces (new users / docs / vectors — the way real corpora grow) and
measure representative operators at 1× and K×. A scale-shaped operator
should grow ~linearly (constant-ish per-row cost); anything
super-linear has an all-pairs or driver-side bottleneck hiding in it.

Usage: python tools/scale_smoke.py [K] [sf_dir]   (default K=10, sf0.1)
Prints one JSON line per (query, scale) with rows/sec, then a summary
table. Results are recorded in SCALING.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from flink_cep_examples_spark.queries import QUERIES, load_all  # noqa: E402
from flink_cep_examples_spark.session import get_spark  # noqa: E402

#: representative operators: CEP tiers and kernels, banded LSH dedup,
#: connected components, text window pipeline, windowed relational agg,
#: batched ANN (bucket join), sequence packing (stateful Python tier)
SMOKE = [
    "cep_alerts_with_timeouts",
    "cep_alert_reactions_nfa",
    "cep_absence_not_followed_by",  # timed-absence kernel (round 3)
    "cep_match_recognize_all_rows",  # ALL ROWS PER MATCH (round 3)
    "cep_until_pattern",  # until() count truncation (round 3)
    "dedup_minhash_lsh",
    "dedup_clusters",
    "docs_bigram_topk",
    "events_sessions",
    "ann_batch_topk",
    "docs_pack_sequences",
    "semdedup_prune",  # pinned K_LISTS=8 — the known-quadratic control
    "semdedup_prune_auto",  # k_lists=None → n_lists(n): the deployment knob
    "ivf_topk_auto",
    "sem_decontam_ivf_auto",  # round-15 big-eval decontam route, deployment knob
    "docs_training_order",  # round-15 two-pass global interleave sort
    "docs_training_shards",  # round-15 shard manifest (second two-pass cumsum)
    "docs_curriculum_order",  # round-15 quality-curriculum interleave
    "docs_decontam_report",  # round-15 per-source contamination report
    # round-4: families with no prior 10× row (VERDICT r3 item 4)
    "events_asof_attribution",
    "events_range_error_context",
    "events_funnel_interval_join",
    "cep_keyed_process",
    "docs_decontaminate",
    "cep_skip_to_last",  # round-4 positional fast path
    "cep_alternation_pattern",  # round-4 lockstep multi-NFA
    "cep_measure_aggregates",  # round-4 aggregate MEASURES (NFA tier)
    "q21_waiting_suppliers",  # round-4 fact-fact semi+anti joins
    "q13_order_count_distribution",  # round-4 outer join + double agg
    "cep_vshape_prev",  # round-4 PREV navigation (lag window + NFA)
    "cep_sliced_absence",  # round-4 time-sliced operator (30-day slices)
    "cep_group_zigzag",  # round-4 group quantifier (NFA, auto-SUBSET)
    "events_signup_no_purchase",  # round-4 raw-events absence (compiled)
    "cep_group_unbounded",  # round-5 sub-NFA loop groups ((X Y)+ Z)
    "docs_tfidf_top_terms",  # round-5 AQE-chosen vocab back-join
    "cep_group_longest_chain",  # round-6 longest-derivation loop group
    "corpus_winnow_dedup",  # round-6 winnowing pairs -> components -> keep-one
    "docs_logprob_buckets",  # round-6 CCNet head/middle/tail terciles
    "dedup_containment",  # round-6 asymmetric excerpt/superset dedup
    "events_cms_heavy_hitters",  # round-6 count-min sketch probe
    "docs_decontaminate_bloom",  # round-6 fixed-size Bloom decontam
    "events_hll_distinct",  # round-6 HLL sketch (bounded-state control)
    "events_hourly_hll",  # round-6 sketch rollup (merge, never rescan)
    "cep_group_range_or_fallback",  # round-6 mixed '|' + ranged group
    "cep_group_star_greedy",  # round-7 greedy star via held alternation
    "cep_group_loop_all_rows",  # round-7 loop-group ALL ROWS (NFA tier)
    "sources_kmv_jaccard",  # round-7 KMV set-op sketch
    "events_value_quantile_hist",  # round-7 mergeable histogram quantiles
    "ann_ivfadc_topk",  # round-7 IVF-pruned PQ/ADC composite
    "cep_group_chain_within",  # round-8 WITHIN on the chain kernel
    "cep_group_absence",  # round-8 timeout channel x loop groups (NFA)
    "cep_group_alt_unbounded",  # round-8 multi-branch loop group (NFA)
    "cep_group_loop_all_rows_running",  # round-8 RUNNING x loop all-rows
    "cep_group_nested",  # round-8 nested groups (two-level chain kernel)
    "docs_bm25_topk",  # round-8 BM25 lexical retrieval (filtered explode)
    "cep_group_nested_within",  # round-9 deadline on the nested kernel
    "docs_token_budget_mix",  # round-13 bucket-prefiltered budget fill
    "docs_nb_quality_classifier",  # round-13 NB quality filter
    "docs_bigram_logprob",  # round-13 interpolated bigram LM
    "corpus_ingest_pipeline",  # round-13 composed ingest pipeline
    "docs_novelty_check",  # round-13 frozen-corpus novelty twin
    "docs_hybrid_rrf_topk",  # round-14 BM25+cosine RRF fusion (arm-bound)
    "ann_serve_many_persisted_topk",  # round-14 batched IVF serving
    "docs_semantic_decontaminate",  # round-14 exact eval-matrix scoring
    "ann_mmr_ivf_persisted_topk",  # round-14 MMR off the persisted index
    "hybrid_rrf_persisted_topk",  # round-14 fully-persisted hybrid
    "docs_temperature_mix",  # round-14 sqrt-smoothed token budgets
    "ivf_stream_served_topk",  # round-16 streamed-delta IVF lifecycle
    "bm25_serve_many_topk",  # round-16 batched lexical serving
    "hybrid_rrf_serve_many_topk",  # round-16 batched hybrid fusion
]


def _auto_queries():
    """Deployment-knob variants: corpus-scaled cluster count
    (k_lists=None → n_lists(n)). Not registered in the catalog — the
    registered queries pin K for oracle byte-stability; these exist to
    MEASURE the linearity claim."""
    from flink_cep_examples_spark.queries.ivf import (
        docs_semantic_decontaminate_ivf,
        ivf_topk,
        semdedup_prune,
    )

    return {
        "semdedup_prune_auto": lambda sp, d: semdedup_prune(
            sp, d, k_lists=None
        ),
        "ivf_topk_auto": lambda sp, d: ivf_topk(sp, d, k_lists=None),
        "sem_decontam_ivf_auto": lambda sp, d: (
            docs_semantic_decontaminate_ivf(sp, d, k_lists=None)
        ),
    }

#: per-table (id columns to offset) — disjoint key spaces per replica.
#: TPC-H facts grow the realistic way: more orders / customers, the
#: SAME parts, suppliers, and nations (dims stay fixed size).
_OFFSETS = {
    "events": {"event_id": 100_000_000, "user_id": 10_000_000},
    "documents": {"doc_id": 10_000_000},
    "embeddings": {"vec_id": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "lineitem": {"l_orderkey": 100_000_000},
    "customer": {"c_custkey": 10_000_000},
}


def replicate(spark, sf_dir: str, out_dir: str, k: int) -> None:
    # SPARK_GRAFT_REPLICATE_TABLES=documents,embeddings limits the K×
    # write to the tables the probed queries read (a K=100 run would
    # otherwise spend minutes writing 60M lineitem rows nobody scans);
    # unset = all fact tables, the default full-smoke shape.
    only = os.environ.get("SPARK_GRAFT_REPLICATE_TABLES")
    wanted = set(only.split(",")) if only else set(_OFFSETS)
    for name, offs in _OFFSETS.items():
        if name not in wanted:
            continue
        src = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        parts = []
        for i in range(k):
            rep = src
            for col, step in offs.items():
                rep = rep.withColumn(col, F.col(col) + F.lit(i * step))
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")
    # dimension tables pass through untouched (fixed size at any scale)
    for name in "region nation supplier part".split():
        spark.read.parquet(f"{sf_dir}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{name}.parquet")


def time_query(spark, name: str, sf_dir: str) -> float:
    fn = QUERIES.get(name) or _auto_queries()[name]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    global SMOKE
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    load_all()
    only = set(sys.argv[3:])  # optional: smoke just the named queries
    if only:
        unknown = only - set(SMOKE) - set(QUERIES)
        if unknown:
            raise SystemExit(f"unknown smoke queries: {sorted(unknown)}")
        SMOKE = [n for n in SMOKE if n in only] + sorted(
            only - set(SMOKE)
        )
    spark = get_spark(
        app_name="scale-smoke",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    )
    results: dict[str, dict[int, float]] = {}
    with tempfile.TemporaryDirectory() as tmp:
        big = f"{tmp}/x{k}"
        replicate(spark, sf_dir, big, k)
        for name in SMOKE:
            t1 = time_query(spark, name, sf_dir)
            tk = time_query(spark, name, big)
            results[name] = {1: t1, k: tk}
            print(
                json.dumps(
                    {
                        "query": name,
                        "t_1x_sec": round(t1, 3),
                        f"t_{k}x_sec": round(tk, 3),
                        "growth": round(tk / t1, 2),
                        "k": k,
                    }
                )
            )
    print(f"\n{'query':32s} {'1x':>8s} {k:>6d}x  growth (linear = {k}.0)")
    for name, r in results.items():
        print(
            f"{name:32s} {r[1]:8.3f} {r[k]:7.3f}  {r[k] / r[1]:6.2f}"
        )


if __name__ == "__main__":
    main()
