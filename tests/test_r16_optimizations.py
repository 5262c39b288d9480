"""Round-16 optimization regression pins.

Each test pins a PLAN property an optimization established, so a future
refactor that silently reintroduces the pathology fails a test instead
of a bench adjudication:

- guide §4.4 UDF duplication: the IVF assignment kernel and the sign-LSH
  bucket kernel must be evaluated ONCE over the corpus, not duplicated
  around a pushed-down filter;
- guide §1.2/§2.4 repeated passes: dedup_exact is one scan + window (no
  join-back), docs_bm25_topk's final plan scans the corpus once;
- the ``SPARK_GRAFT_SPREAD=never`` deployment knob returns the input
  frame unchanged (no Exchange added).
"""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _count_node(plan: str, name: str) -> int:
    # no word boundaries: executedPlan prints "FileScan parquet" where
    # formatted explain prints "Scan parquet"
    return len(re.findall(re.escape(name), plan))


def test_ivf_topk_single_assignment_eval(spark):
    """The serving filter (cid IN probes) must not duplicate the
    assignment UDF (the plan before had TWO ArrowEvalPython nodes
    over the full corpus)."""
    from flink_cep_examples_spark.queries.ivf import ivf_topk

    plan = _plan(ivf_topk(spark, SF_DIR))
    assert _count_node(plan, "ArrowEvalPython") == 1, plan


def test_ann_batch_topk_bucket_eval_not_duplicated(spark):
    """Corpus side hashes once; query side hashes only the filtered
    query rows — at most 3 ArrowEvalPython nodes total (corpus bucket,
    query bucket, cosine); the before plan had 4 (corpus bucket twice)."""
    from flink_cep_examples_spark.queries.similarity import ann_batch_topk

    plan = _plan(ann_batch_topk(spark, SF_DIR))
    assert _count_node(plan, "ArrowEvalPython") <= 3, plan


def test_dedup_exact_single_scan_no_join(spark):
    """Window form: one parquet scan, a Window, and no join-back (the
    old groupBy+join re-derived the md5 fingerprint pipeline twice)."""
    from flink_cep_examples_spark.queries.dedup import dedup_exact

    plan = _plan(dedup_exact(spark, SF_DIR))
    assert _count_node(plan, "Scan parquet") == 1, plan
    assert _count_node(plan, "Join") == 0, plan
    assert _count_node(plan, "Window") >= 1, plan


def test_bm25_scan_path_single_corpus_scan(spark):
    """Round 17 tightened the round-16 shape: ZERO corpus parquet scans
    remain in the final plan — the single tokenize pass is materialized
    as the narrow per-doc frame (array-arithmetic tf, no explode), and
    stats, the df broadcast build AND the scoring join all read its
    blocks (the r16 form still paid a second corpus pass for stats)."""
    from flink_cep_examples_spark.queries.text import docs_bm25_topk

    plan = _plan(docs_bm25_topk(spark, SF_DIR))
    assert _count_node(plan, "Scan parquet") == 0, plan


def test_spread_never_knob(spark, monkeypatch):
    from flink_cep_examples_spark.sources.tables import load_table, spread

    monkeypatch.setenv("SPARK_GRAFT_SPREAD", "never")
    df = load_table(spark, SF_DIR, "documents")
    out = spread(df, "doc_id")
    assert out is df
    monkeypatch.delenv("SPARK_GRAFT_SPREAD")
    out2 = spread(df, "doc_id")
    assert out2 is not df
    assert "Exchange" in _plan(out2)


def test_training_order_frame_input_materialized(spark):
    """training_order_frame must checkpoint its scored input before
    repartitionByRange (the range-boundary sampling job otherwise
    re-executes the whole upstream mix pipeline). The returned frame's
    lineage therefore roots at checkpointed RDD scans, not at the
    parquet source."""
    from flink_cep_examples_spark.queries.sampling import (
        docs_training_order,
    )

    plan = _plan(docs_training_order(spark, SF_DIR))
    assert _count_node(plan, "Scan parquet") == 0, plan
    assert _count_node(plan, "Scan ExistingRDD") >= 1, plan


@pytest.mark.parametrize(
    "name",
    [
        "ivf_topk",
        "ann_batch_topk",
        "dedup_exact",
        "docs_bm25_topk",
        "docs_unigram_logprob",
        "corpus_clean_pipeline",
        "sources_kmv_jaccard",
    ],
)
def test_optimized_queries_match_oracle(spark, name):
    """Belt-and-braces: every restructured query still hash-matches its
    DuckDB oracle at sf0.001 (the full sweep runs at sf0.01; this keeps
    the equivalence check inside the default suite)."""
    from flink_cep_examples_spark.queries import ORACLES, QUERIES, load_all

    from tests.oracle_harness import compare

    load_all()
    ok, msg = compare(QUERIES[name](spark, SF_DIR), ORACLES[name], SF_DIR)
    assert ok, msg
