"""IVF (inverted-file) approximate nearest neighbor: a trained
coarse quantizer — K-means centroids — partitions the corpus into K
inverted lists; a query probes only the NPROBE nearest lists.
Complements the sign-LSH path (queries/similarity.py): LSH needs no
training and hashes scan-side; IVF adapts its partitions to the data
distribution, the standard trade at billion-vector scale.

Scale shape (100 TB mindset):

- Training is Lloyd's algorithm with driver-held centroids (K×DIM
  doubles — the MLlib pattern): ASSIGNMENT is a scan-side fold over K
  broadcast literal centroids (argmin via ``array_min`` over
  (dist, cid) structs — no join, no shuffle); the MEAN recompute is
  one shuffle of map-side-combined decimal partials keyed (cid, pos).
  Per iteration: one scan + one tiny shuffle.
- At serving time the corpus would be written clustered by ``cid``
  (partition/bucket key), so an NPROBE/K fraction of files is read per
  query; here the final filter expresses that pruning declaratively.
- Determinism / oracle-exactness: seeds are the K smallest vec_ids;
  per-dimension means go through exact DECIMAL(28,18) sums (order-
  independent) so Spark's parallel aggregation and DuckDB's
  sequential CTE produce bit-identical centroids; all distance/cosine
  folds are sequential left-to-right in both engines (the proven
  ``aggregate``/``list_sum`` pairing); every argmin/top-k breaks ties
  on the id. The full pipeline — train + assign + probe + rank — is
  pinned by one static DuckDB oracle, not a weaker rows-only check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_cep_examples_spark.queries import register
from flink_cep_examples_spark.queries.similarity import (
    DIM,
    QUERY_VEC_ID,
    TOP_K,
    _dot,
    _norm,
    _sql_dot,
    _sql_norm,
)
from flink_cep_examples_spark.sources.tables import load_table, spread

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType

K_LISTS = 8
NPROBE = 2
_MEAN_DEC = "decimal(28,18)"


def _sqdist(vec, cent: list[float]) -> Column:
    """Sequential-fold squared L2 distance to a literal centroid."""
    c = F.array(*[F.lit(float(v)) for v in cent])
    return F.aggregate(
        F.zip_with(
            vec, c, lambda x, cc: (x.cast("double") - cc) * (x.cast("double") - cc)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(
    emb: DataFrame, cents: dict[int, list[float]], exact: bool = True
) -> DataFrame:
    """cid = argmin over centroids of (dist, cid) — scan-side, no join.

    ``exact=True`` (the oracle queries): Arrow-vectorized K×DIM numpy
    passes per batch with the HOF fold's exact arithmetic —
    per-dimension sequential accumulation and ascending-cid strict-<
    argmin (ties keep the smaller cid) — bit-identical to the
    interpreted ``_sqdist``/``array_min(struct(d, cid))`` formulation
    the DuckDB oracle mirrors. Cost is O(n·K·DIM) with a Python-level
    loop over K×DIM, fine for the pinned K=8 but quadratic once K
    scales with n.

    ``exact=False`` (the ``k_lists=None`` deployment path): one BLAS
    matmul per batch — ``dist² = ‖a‖² − 2·A·Cᵀ + ‖c‖²`` — same
    smallest-cid tie rule (np.argmin takes the first minimum and cids
    are sorted ascending). Sum reassociation can differ in the last
    float ulp, which is irrelevant without an oracle pinning bytes;
    this is what keeps scan-side assignment linear when K = n/target."""
    items = sorted((int(c), [float(v) for v in vec]) for c, vec in cents.items())

    if exact:

        @pandas_udf(IntegerType())
        def assign_udf(v: pd.Series) -> pd.Series:
            if len(v) == 0:
                return pd.Series([], dtype="int32")
            A = np.vstack(v.to_numpy()).astype(np.float64)
            best_d = np.full(len(A), np.inf)
            best_c = np.zeros(len(A), dtype=np.int32)
            for cid, cent in items:
                acc = np.zeros(len(A))
                for d, cc in enumerate(cent):
                    diff = A[:, d] - cc
                    acc += diff * diff
                take = acc < best_d
                best_d[take] = acc[take]
                best_c[take] = cid
            return pd.Series(best_c)

    else:
        cids = np.array([c for c, _ in items], dtype=np.int32)
        C = np.array([cent for _, cent in items], dtype=np.float64)
        c_sq = (C * C).sum(axis=1)

        @pandas_udf(IntegerType())
        def assign_udf(v: pd.Series) -> pd.Series:
            if len(v) == 0:
                return pd.Series([], dtype="int32")
            A = np.vstack(v.to_numpy()).astype(np.float64)
            d2 = (A * A).sum(axis=1)[:, None] - 2.0 * (A @ C.T) + c_sq[None, :]
            return pd.Series(cids[np.argmin(d2, axis=1)])

    # asNondeterministic (round-16 optimization, guide §4.4): the UDF is
    # value-deterministic, but serving paths filter on its output
    # (``cid IN probes``), and Catalyst pushes that filter below the
    # projection by DUPLICATING the evaluation — ivf_topk's before plan
    # ran the O(n·K·DIM) kernel TWICE over the whole corpus. Marking it
    # non-deterministic forbids the reorder: one evaluation, filters
    # applied above. The only pushdown lost is a pre-assignment row
    # filter on the same branch (negligible: the assignment must see
    # every row anyway).
    return emb.withColumn("cid", assign_udf.asNondeterministic()("embedding"))


def _means(assigned: DataFrame) -> dict[int, list[float]]:
    """Per-cluster per-dimension mean via exact decimal sums; K×DIM
    doubles collected to the driver (the MLlib centroid pattern)."""
    rows = (
        assigned.select("cid", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(
            (
                F.round(
                    F.sum(F.col("x").cast("double").cast(_MEAN_DEC)), 12
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .collect()
    )
    out: dict[int, list[float]] = {}
    for r in rows:
        out.setdefault(r.cid, [0.0] * DIM)[r.pos] = r.m
    return out


def n_lists(n_vectors: int, target_cluster_rows: int = 256) -> int:
    """Corpus-size-scaled cluster count: K = n / target keeps cluster
    size ~constant, so IVF probe cost and semdedup's within-cluster
    pair volume stay linear in n (the SemDeDup design; K_LISTS is a
    pinned constant only for the oracle-gated driver queries)."""
    return max(2, min(65_536, n_vectors // max(target_cluster_rows, 1)))


def _resolve_k(emb: DataFrame, k_lists: int | None) -> int:
    """``k_lists=None`` → corpus-scaled ``n_lists(count)`` (the
    deployment default: constant cluster size, linear pair volume);
    an explicit int → use as-is (the oracle queries pin ``K_LISTS``
    for byte-stability). ``emb`` is already materialized, so the
    count is a cheap action."""
    if k_lists is not None:
        return k_lists
    return n_lists(emb.count())


def _trained_assignment(
    emb: DataFrame,
    k_lists: int = K_LISTS,
    exact: bool = True,
    seed_rows=None,
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Seed with the K smallest vec_ids, one Lloyd refinement (assign →
    exact-decimal means), final assignment. Returns (assigned df with
    ``cid``, trained centroids). ``exact`` selects the assignment
    kernel (sequential-fold for oracle queries, BLAS for deployment).

    ``seed_rows`` (round-16 optimization, guide §1.2: fewer passes):
    pre-collected rows with ``vec_id``/``embedding`` covering at least
    ``vec_id < k_lists`` — a caller that also needs other low-vec_id
    rows (the query vector, the PQ codebook) fetches everything in ONE
    driver action instead of one per purpose; rows outside the seed
    range are ignored here."""
    if seed_rows is None:
        seed_rows = emb.filter(F.col("vec_id") < k_lists).select(
            "vec_id", "embedding"
        ).collect()
    cents = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in sorted(seed_rows, key=lambda r: r.vec_id)
        if int(r.vec_id) < k_lists
    }
    cents = _means(_assign(emb, cents, exact))  # one Lloyd refinement
    return _assign(emb, cents, exact), cents


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    *,
    k_lists: int | None = K_LISTS,
    k: int = TOP_K,
) -> DataFrame:
    """IVF top-k for the fixed query vector: trained coarse quantizer,
    then exact cosine over the NPROBE nearest inverted lists only.
    The embeddings are materialized once (localCheckpoint) — training
    runs 3 actions over them (merged seed+query fetch, refine means,
    final assign), each of which would otherwise rescan + reshuffle.

    ``k_lists``: pinned ``K_LISTS`` for the registered oracle query;
    pass ``None`` at deployment for corpus-scaled ``n_lists(n)``."""
    emb = (
        spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
        .select("vec_id", "label", "embedding")
        .localCheckpoint()
    )
    # ONE driver fetch covers the seed centroids AND the query vector
    # (round-16 optimization, guide §1.2/§5: the old form ran a second
    # full job over emb just to read vec_id = QUERY_VEC_ID).
    kl = _resolve_k(emb, k_lists)
    pre = emb.filter(
        (F.col("vec_id") < kl) | (F.col("vec_id") == QUERY_VEC_ID)
    ).select("vec_id", "embedding").collect()
    assigned, cents = _trained_assignment(
        emb, kl, exact=k_lists is not None, seed_rows=pre
    )

    qvec = [
        float(x)
        for r in pre
        if int(r.vec_id) == QUERY_VEC_ID
        for x in r.embedding
    ]
    if not qvec:
        raise ValueError(
            f"query vector vec_id={QUERY_VEC_ID} missing from embeddings"
        )

    def py_sqdist(c: list[float]) -> float:
        acc = 0.0
        for x, cc in zip(qvec, c):
            acc += (x - cc) * (x - cc)
        return acc

    probe_cids = [
        c for _, c in sorted((py_sqdist(v), c) for c, v in cents.items())[:NPROBE]
    ]

    q = F.array(*[F.lit(x) for x in qvec])
    cos = _dot(F.col("embedding"), q) / (_norm(F.col("embedding")) * _norm(q))
    return (
        assigned.filter(F.col("cid").isin(probe_cids))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", "cid", cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def _sql_sqdist(vec: str, cvec: str) -> str:
    return (
        "list_sum([(CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])"
        f" FOR x IN list_zip({vec}, {cvec})])"
    )


def _sql_assign(src: str, cents: str, out: str) -> str:
    """Argmin assignment CTE: rank (dist, cid) per vector, keep rank 1
    — lexicographically identical to the Spark array_min struct."""
    return f"""{out} AS (
  SELECT vec_id, label, embedding, cid FROM (
    SELECT s.vec_id, s.label, s.embedding, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id
             ORDER BY {_sql_sqdist('s.embedding', 'c.cvec')} ASC, c.cid ASC
           ) AS rn
    FROM {src} s CROSS JOIN {cents} c)
  WHERE rn = 1
)"""


_SQL_MEANS = f"""c1 AS (
  SELECT cid, list(m ORDER BY pos) AS cvec FROM (
    SELECT cid, pos,
           CAST(ROUND(SUM(CAST(CAST(embedding[pos] AS DOUBLE)
                         AS DECIMAL(28,18))), 12) AS DOUBLE) / COUNT(*) AS m
    FROM a1, generate_series(1, {DIM}) AS g(pos)
    GROUP BY cid, pos)
  GROUP BY cid
)"""


ORACLE_IVF = f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
c0 AS (
  SELECT vec_id AS cid,
         [CAST(x AS DOUBLE) FOR x IN embedding] AS cvec
  FROM e WHERE vec_id < {K_LISTS}
),
{_sql_assign('e', 'c0', 'a1')},
{_SQL_MEANS},
{_sql_assign('e', 'c1', 'a2')},
q AS (SELECT embedding AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
probes AS (
  SELECT c1.cid FROM c1, q
  ORDER BY {_sql_sqdist('q.qv', 'c1.cvec')} ASC, c1.cid ASC
  LIMIT {NPROBE}
)
SELECT a2.vec_id, a2.label, a2.cid,
       {_sql_dot('a2.embedding', 'q.qv')}
         / ({_sql_norm('a2.embedding')} * {_sql_norm('q.qv')}) AS cos
FROM a2 JOIN probes USING (cid), q
WHERE a2.vec_id != {QUERY_VEC_ID}
ORDER BY cos DESC, a2.vec_id ASC
LIMIT {TOP_K}
"""


def embedding_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-diagnostics report over the trained coarse quantizer —
    the view a curation pipeline reads before trusting cluster-based
    ops (SemDeDup pruning, mixture balancing, IVF serving): per
    cluster, its size, the majority label with its share (purity — how
    label-coherent the clustering is), and the mean squared distance
    to the centroid (compactness).

    Exactness: the per-row squared distance is the same sequential
    zip_with fold both engines already agree on; its per-cluster MEAN
    goes through the exact-decimal-sum trick (`_means`' craft — a
    DECIMAL(28,18) sum is order-free where a double sum is not), so
    the report is bit-stable cross-engine. Purity is one int/int
    division.

    Scale shape: one broadcast join of the K-row centroid table, two
    aggregations keyed by the small-int cid — output is K rows at any
    corpus size; the label-majority window partitions by cid over the
    K×|labels|-row count frame, never over rows."""
    emb = (
        spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
        .select("vec_id", "label", "embedding")
        .localCheckpoint()
    )
    assigned, cents = _trained_assignment(emb, K_LISTS, exact=True)
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in sorted(cents.items())],
        "cid int, cvec array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("cvec"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    stats = (
        assigned.join(F.broadcast(cent_df), "cid")
        .select("cid", d2.alias("d2"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (
                F.round(F.sum(F.col("d2").cast(_MEAN_DEC)), 12).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_sqdist"),
        )
    )
    lab = assigned.groupBy("cid", "label").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("cid").orderBy(
        F.col("n").desc(), F.col("label").asc()
    )
    top = (
        lab.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cid", F.col("label").alias("top_label"), F.col("n").alias("top_n"))
    )
    return (
        stats.join(top, "cid")
        .select(
            "cid",
            "n_vecs",
            "top_label",
            "top_n",
            (F.col("top_n").cast("double") / F.col("n_vecs").cast("double"))
            .alias("label_purity"),
            "mean_sqdist",
        )
        .orderBy("cid")
    )


ORACLE_CLUSTER_PROFILE = f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
c0 AS (
  SELECT vec_id AS cid,
         [CAST(x AS DOUBLE) FOR x IN embedding] AS cvec
  FROM e WHERE vec_id < {K_LISTS}
),
{_sql_assign('e', 'c0', 'a1')},
{_SQL_MEANS},
{_sql_assign('e', 'c1', 'a2')},
d AS (
  SELECT a2.cid, {_sql_sqdist('a2.embedding', 'c1.cvec')} AS d2
  FROM a2 JOIN c1 USING (cid)
),
stats AS (
  SELECT cid, COUNT(*) AS n_vecs,
         CAST(ROUND(SUM(CAST(d2 AS DECIMAL(28,18))), 12) AS DOUBLE)
           / COUNT(*) AS mean_sqdist
  FROM d GROUP BY 1
),
lab AS (SELECT cid, label, COUNT(*) AS n FROM a2 GROUP BY 1, 2),
top AS (
  SELECT cid, label AS top_label, n AS top_n FROM (
    SELECT cid, label, n,
           ROW_NUMBER() OVER (PARTITION BY cid
                              ORDER BY n DESC, label ASC) AS rn
    FROM lab)
  WHERE rn = 1
)
SELECT stats.cid, stats.n_vecs, top.top_label, top.top_n,
       CAST(top.top_n AS DOUBLE) / CAST(stats.n_vecs AS DOUBLE)
         AS label_purity,
       stats.mean_sqdist
FROM stats JOIN top USING (cid)
ORDER BY cid
"""


#: SemDeDup cosine threshold: within-cluster pairs at or above it are
#: semantic duplicates; the larger vec_id of each pair is pruned.
SEMDEDUP_T = 0.4


def semdedup_prune(
    spark: SparkSession, sf_dir: str, *, k_lists: int | None = K_LISTS
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings with the trained coarse
    quantizer, compare pairs ONLY within a cluster, and keep the
    minimum vec_id of every cosine >= SEMDEDUP_T duplicate pair.
    Returns the surviving (vec_id, label, cid) rows.

    Scale shape: the cluster id bounds the quadratic term — pair
    candidates are sum_k (n_k choose 2) ~ n^2/K instead of n^2, and K
    grows with the corpus, so the pair join is an equi-join on ``cid``
    (one shuffle keyed by a small int; at 100 TB the corpus would be
    written clustered by cid, making it co-located). Cosines ride the
    Arrow-vectorized kernel; the final removal is a left_anti on
    vec_id with AQE choosing the strategy — never a forced broadcast
    (the loser set scales with the duplicate fraction).

    ``k_lists``: pinned ``K_LISTS`` for the registered oracle query;
    pass ``None`` at deployment for corpus-scaled ``n_lists(n)`` —
    constant cluster size is what keeps the pair volume linear."""
    from flink_cep_examples_spark.queries.similarity import _pd_cos

    emb = (
        spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
        .select("vec_id", "label", "embedding")
        .localCheckpoint()  # training runs 3 actions over the source
    )
    assigned, _ = _trained_assignment(
        emb, _resolve_k(emb, k_lists), exact=k_lists is not None
    )
    assigned = assigned.localCheckpoint()  # train once, feed both sides
    a = assigned.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "cid"
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), "cid"
    )
    losers = (
        a.join(b, ["cid"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_b", _pd_cos("emb_a", "emb_b").alias("cos"))
        .filter(F.col("cos") >= SEMDEDUP_T)
        .select("vec_b")
        .distinct()
    )
    return assigned.join(
        losers, assigned["vec_id"] == losers["vec_b"], "left_anti"
    ).select("vec_id", "label", "cid")


ORACLE_SEMDEDUP = f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
c0 AS (
  SELECT vec_id AS cid,
         [CAST(x AS DOUBLE) FOR x IN embedding] AS cvec
  FROM e WHERE vec_id < {K_LISTS}
),
{_sql_assign('e', 'c0', 'a1')},
{_SQL_MEANS},
{_sql_assign('e', 'c1', 'a2')},
losers AS (
  SELECT DISTINCT b.vec_id
  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_sql_dot('a.embedding', 'b.embedding')}
          / ({_sql_norm('a.embedding')} * {_sql_norm('b.embedding')})
        >= {SEMDEDUP_T}
)
SELECT a2.vec_id, a2.label, a2.cid
FROM a2 ANTI JOIN losers ON a2.vec_id = losers.vec_id
"""


register("ivf_topk", ivf_topk, ORACLE_IVF, driver=False,  # r5.2 rotation: driver-verified green r3+r4; pytest-gated now
)
register(
    "embedding_cluster_profile", embedding_cluster_profile,
    ORACLE_CLUSTER_PROFILE,
    # r9 rotation: promoted from the never-verified pool
)
register(
    "semdedup_prune", semdedup_prune, ORACLE_SEMDEDUP,
    driver=False,  # r8 rotation: 4 green rounds (r4-r7), most-verified
    # tier — demoted to make room (COVERAGE.md policy); pytest-oracled
)


# ---------------------------------------------------------------------------
# Persisted IVF index (round 4): the deployment shape — train once,
# write the corpus CLUSTERED BY cid, serve queries off the index with
# partition pruning instead of re-training per query.
# ---------------------------------------------------------------------------


def write_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    *,
    k_lists: int | None = K_LISTS,
) -> None:
    """Train the coarse quantizer and persist the index:

    - ``centroids_v<N>`` — (cid, centroid array<double>);
    - ``lists_v<N>`` — the corpus partitioned BY ``cid``
      (Hive-style directories), so a search's NPROBE probe lists map
      to NPROBE/K of the files on disk and the parquet reader PRUNES
      the rest (``PartitionFilters`` in the plan — the at-scale win:
      at a billion vectors a query touches only its probe lists).

    Commit (round 16, VERDICT r15 item 2): both tiers land in fresh
    versioned directories, then ONE atomic ``CURRENT`` manifest write
    publishes them — the object-store-safe snapshot pattern shared
    with the BM25 side (``index_manifest``); a reader can never
    observe a centroids/lists pairing from two different trainings.

    Writing is one training pass + one clustered write; searches are
    then scan-only (:func:`ivf_search_persisted`)."""
    from flink_cep_examples_spark.index_manifest import (
        gc_versions,
        publish_manifest,
        read_manifest,
        tier_path,
    )

    man = read_manifest(index_dir)
    version, epoch = man["version"] + 1, man["epoch"] + 1
    emb = (
        spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
        .select("vec_id", "label", "embedding")
        .localCheckpoint()
    )
    assigned, cents = _trained_assignment(
        emb, _resolve_k(emb, k_lists), exact=k_lists is not None
    )
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in sorted(cents.items())],
        "cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        tier_path(index_dir, "centroids", version)
    )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(
        tier_path(index_dir, "lists", version)
    )
    # a rebuild RESETS the index (round-16 review): epoch bump +
    # min_live_epoch raised + absorbed cleared — pre-rebuild delta
    # batches are excluded by the epoch gate (their ledger rows carry
    # the old epoch) even if the best-effort GC below is interrupted,
    # and a fresh checkpoint's batch 0 is never skip-guarded. The old
    # ingest checkpoint is void after a rebuild.
    publish_manifest(
        index_dir,
        version,
        absorbed=(),
        epoch=epoch,
        min_live_epoch=epoch,
    )
    from flink_cep_examples_spark.index_manifest import gc_delta_batches

    gc_delta_batches(
        index_dir,
        ("lists_delta", "ingest_ledger"),
        sorted(_all_delta_batches(spark, index_dir)),
    )
    gc_versions(index_dir, ("centroids", "lists"), version)


def ivf_recluster_index(
    spark: SparkSession, index_dir: str, *, k_lists: int | None = None
) -> None:
    """Recluster a persisted IVF index from its own stored vectors
    (round 15) — the lifecycle step ``ivf_append_vectors`` defers to:
    appends assign against FROZEN centroids, so after heavy ingest the
    quantizer drifts from the data distribution (the
    ``embedding_cluster_profile`` mean-distance creep). Reclustering
    reads the lists back, retrains (``k_lists=None`` → corpus-scaled
    ``n_lists(n)`` — the count the GROWN corpus deserves, which a
    frozen quantizer can never adopt), and rewrites centroids + lists.

    Commit (round 16, VERDICT r15 item 2): the retrained layout lands
    in fresh VERSIONED directories (the expensive phase — the live
    index serves untouched throughout it), then ONE atomic ``CURRENT``
    manifest write publishes both tiers together: before the write
    readers see the old quantizer+lists pairing, after it the new one,
    never a mix — and the commit needs no rename, so it works on any
    filesystem the driver can write one small file to (HDFS/S3
    included). Old version directories are deleted afterwards as pure
    GC. Un-absorbed ledgered delta batches (live AND reroutable ones
    left by an earlier recluster) are INCLUDED in the retrain — every
    vector is re-assigned against the new quantizer — and recorded as
    absorbed in the same manifest write, which also BUMPS the EPOCH
    (round-16 review): a streamed batch racing the swap keeps its
    old-epoch ledger row, so the serve path's epoch gate excludes it
    (never served misrouted against the new centroids) until the next
    compaction re-assigns and folds it. ``min_live_epoch`` is kept,
    marking those stragglers reroutable rather than void. Direct
    ``ivf_append_vectors`` appends landing between the training
    snapshot and the publish go into the OLD version's lists and are
    dropped by the swap — quiesce direct appends around a recluster
    (streamed ingest needs no quiescence).

    Guard semantics (review r15): every ``_IVF_INDEX_WRITTEN`` key for
    this dir is EVICTED before the recluster's own key is added — a
    pinned-``k_lists`` query arriving later must RETRAIN its own
    quantizer rather than silently serve the reclustered different-K
    one (the exact hazard the keyed guard exists to prevent)."""
    from flink_cep_examples_spark.index_manifest import (
        gc_delta_batches,
        gc_versions,
        publish_manifest,
        read_manifest,
        tier_path,
    )

    from flink_cep_examples_spark.index_manifest import (
        ledger_batches,
        try_read_tier,
    )

    man = read_manifest(index_dir)
    version = man["version"] + 1
    vecs = spark.read.parquet(
        tier_path(index_dir, "lists", man["version"])
    ).select("vec_id", "label", "embedding")
    _led, live, reroutable, _void = ledger_batches(
        spark, f"{index_dir}/ingest_ledger", man
    )
    folded = sorted(set(live) | set(reroutable))
    if folded:
        delta = try_read_tier(
            spark,
            f"{index_dir}/lists_delta",
            ["vec_id", "label", "embedding", "batch"],
        )
        if delta is not None:
            vecs = vecs.unionByName(
                delta.filter(F.col("batch").isin(folded)).select(
                    "vec_id", "label", "embedding"
                )
            )
        else:
            folded = []
    # localCheckpoint: the training actions and the final write must
    # see ONE immutable snapshot of the lists we are about to replace
    vecs = vecs.localCheckpoint()
    assigned, cents = _trained_assignment(
        vecs, _resolve_k(vecs, k_lists), exact=k_lists is not None
    )
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in sorted(cents.items())],
        "cid int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        tier_path(index_dir, "centroids", version)
    )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(
        tier_path(index_dir, "lists", version)
    )
    absorbed_new = sorted(set(man["absorbed"]) | set(folded))
    publish_manifest(
        index_dir,
        version,
        absorbed=absorbed_new,
        epoch=man["epoch"] + 1,
        min_live_epoch=man["min_live_epoch"],
    )
    gc_delta_batches(
        index_dir, ("lists_delta", "ingest_ledger"), absorbed_new
    )
    gc_versions(index_dir, ("centroids", "lists"), version)
    # evict EVERY key for this dir (stale pinned-K keys would silently
    # serve the wrong quantizer), then record the reclustered one
    for key in [k for k in _IVF_INDEX_WRITTEN if k[0] == index_dir]:
        _IVF_INDEX_WRITTEN.discard(key)
    _IVF_INDEX_WRITTEN.add((index_dir, k_lists))


#: (index dir, k_lists) pairs already trained by THIS process — the
#: train-once guard. Keyed on the training parameter too (ADVICE r14):
#: a later call with a different ``k_lists`` must retrain rather than
#: silently serve the first call's quantizer. Deliberately not a
#: trust-the-disk check: a stale /tmp index from another process would
#: silently serve an old quantizer after a code change; within one
#: session the inputs are immutable and the skip is sound (the
#: serve-many deployment shape, VERDICT r13 item 5). The skip DOES
#: verify the index still exists on disk (external /tmp cleanup
#: mid-session must fall through to retrain, not fail every serve).
_IVF_INDEX_WRITTEN: set[tuple[str, int | None]] = set()


def ensure_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    *,
    k_lists: int | None = K_LISTS,
) -> None:
    """Train-once guard over :func:`write_ivf_index`: the first call
    per (process, index_dir) trains and writes; every later call is a
    no-op, so N serving queries in a session pay ONE training pass —
    the FAISS train()-then-serve contract. ``ivf_append_vectors``
    appends compose with the skip (append never retrains).

    The skip requires the SAME ``k_lists`` (a different value retrains
    under the new key) and the index still present on disk — both
    ADVICE r14 hazards."""
    key = (index_dir, k_lists)
    if key in _IVF_INDEX_WRITTEN and _index_on_disk(index_dir):
        return
    # evict SIBLING keys for this dir before the rewrite (ADVICE r15):
    # ensure(d, 8) → ensure(d, None) overwrites the on-disk index, and
    # a later ensure(d, 8) skipping on its stale key would silently
    # serve the auto-K quantizer — the recluster already evicts this
    # way; the rebuild path must too.
    for stale in [k for k in _IVF_INDEX_WRITTEN if k[0] == index_dir]:
        _IVF_INDEX_WRITTEN.discard(stale)
    write_ivf_index(spark, sf_dir, index_dir, k_lists=k_lists)
    _IVF_INDEX_WRITTEN.add(key)


def _index_on_disk(index_dir: str) -> bool:
    """True when both persisted-index halves still exist (a mid-session
    /tmp sweep deletes them; the guard must retrain, not no-op) —
    resolved through the manifest so any published version counts."""
    import os

    from flink_cep_examples_spark.index_manifest import resolve_tiers

    live = resolve_tiers(index_dir, ("centroids", "lists"))
    return os.path.isdir(live["centroids"]) and os.path.isdir(
        live["lists"]
    )


def ivf_append_vectors(
    spark: SparkSession, index_dir: str, new_vectors: DataFrame
) -> None:
    """Incremental ingest into a persisted IVF index (round 13): assign
    arriving vectors (``vec_id``, ``label``, ``embedding``) to the
    FROZEN centroids — one broadcast-K BLAS pass per Arrow batch, no
    retraining, no shuffle — and APPEND them to their ``cid=``
    partitions. Existing list files are never rewritten (dynamic
    partition append), searches prune exactly as before, and new
    vectors are immediately servable. The FAISS ``add()``-after-train
    contract: centroids drift only when the owner retrains (the
    documented recluster point is a quantizer-quality check, e.g.
    ``embedding_cluster_profile``'s mean-distance column creeping up).

    Tiers resolve through the manifest off ONE read (round 16), so the
    appended vectors land in the lists that PAIR with the centroids
    they were assigned against."""
    from flink_cep_examples_spark.index_manifest import resolve_tiers

    live = resolve_tiers(index_dir, ("centroids", "lists"))
    cents = {
        int(r.cid): [float(x) for x in r.centroid]
        for r in spark.read.parquet(live["centroids"]).collect()
    }
    assigned = _assign(
        new_vectors.select("vec_id", "label", "embedding"),
        cents,
        exact=False,
    )
    assigned.write.mode("append").partitionBy("cid").parquet(
        live["lists"]
    )


def ivf_ingest_batch(
    spark: SparkSession,
    index_dir: str,
    new_vectors: DataFrame,
    batch_key: int,
    *,
    exact: bool = False,
) -> None:
    """One replay-idempotent vector-ingest batch into the DELTA tier
    (round 16) — the vector twin of the BM25 delta recipe: assign the
    arriving (``vec_id``, ``label``, ``embedding``) rows against the
    FROZEN live centroids, land them in
    ``lists_delta/batch=<key>/cid=<c>`` via dynamic partition
    overwrite (a replayed batch rewrites its OWN partitions), then
    write ONE ledger row to ``ingest_ledger/batch=<key>``. Serving
    gates the delta union on the LEDGER — a writer killed between the
    two writes leaves an orphan batch that never serves and that its
    replay repairs (the same two-write-window closure as the BM25
    side). The ledger row records the manifest EPOCH the assignment
    ran under (round-16 review): a recluster racing this batch bumps
    the epoch, and the serve path's epoch gate then excludes the row
    — vectors assigned against a superseded quantizer can never serve
    misrouted; the next compaction re-assigns and folds them.
    ``exact`` selects the assignment kernel (BLAS deployment default;
    the oracle-pinned catalog query passes True)."""
    from flink_cep_examples_spark.index_manifest import (
        read_manifest,
        tier_path,
    )

    man = read_manifest(index_dir)
    cents = {
        int(r.cid): [float(x) for x in r.centroid]
        for r in spark.read.parquet(
            tier_path(index_dir, "centroids", man["version"])
        ).collect()
    }
    assigned = _assign(
        new_vectors.select("vec_id", "label", "embedding"), cents, exact
    )
    assigned.withColumn("batch", F.lit(batch_key)).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(
        "batch", "cid"
    ).parquet(f"{index_dir}/lists_delta")
    spark.createDataFrame(
        [(int(batch_key), new_vectors.count(), int(man["epoch"]))],
        "batch long, n_vecs long, epoch int",
    ).coalesce(1).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("batch").parquet(f"{index_dir}/ingest_ledger")


def _ivf_live_delta(spark: SparkSession, index_dir: str, man: dict):
    """(live delta frame, live ids, reroutable ids): the ledger's
    epoch-aware classification (``index_manifest.ledger_batches``) —
    LIVE (current-epoch, un-absorbed) batches serve; REROUTABLE ones
    (written under a superseded quantizer) are excluded from serving
    and re-assigned by the next compaction/recluster; void
    (pre-rebuild) batches are GC-only."""
    from flink_cep_examples_spark.index_manifest import (
        ledger_batches,
        try_read_tier,
    )

    _led, live, reroutable, _void = ledger_batches(
        spark, f"{index_dir}/ingest_ledger", man
    )
    if not live:
        return None, [], reroutable
    delta = try_read_tier(
        spark,
        f"{index_dir}/lists_delta",
        ["vec_id", "label", "embedding", "cid", "batch"],
    )
    if delta is None:
        return None, [], reroutable
    return delta.filter(F.col("batch").isin(live)), live, reroutable


def ivf_compact_index(spark: SparkSession, index_dir: str) -> None:
    """Fold the streamed DELTA tier into the base lists (round 16) —
    the vector twin of ``bm25_compact_index``, sharing its commit:
    base + LIVE delta written to a fresh versioned lists dir, the
    (unchanged) centroids copied forward to pair with it, then ONE
    atomic manifest write publishes both and records the merged
    batches as ABSORBED; delta deletion is pure GC afterwards, and
    absorbed ids are retained as the stream's replay-skip memory.
    Serving is bit-equal before and after (search already unions the
    tiers).

    REROUTABLE batches (round-16 review) — ledger rows from a
    pre-recluster epoch, whose recorded cids belong to a superseded
    quantizer and which serving therefore excludes — are RE-ASSIGNED
    here against the current centroids and folded with the live ones:
    this is the repair path the recluster's epoch bump defers to, so
    a batch that raced a recluster becomes servable (correctly
    routed) at the next compaction instead of lingering or serving
    misrouted. Void (pre-rebuild) batches are GC-only. Orphan delta
    batches (no ledger row) are left for their replay. No-op when
    nothing is ledgered and un-absorbed."""
    from flink_cep_examples_spark.index_manifest import (
        gc_delta_batches,
        gc_versions,
        ledger_batches,
        publish_manifest,
        read_manifest,
        tier_path,
        try_read_tier,
    )

    man = read_manifest(index_dir)
    _led, live, reroutable, void = ledger_batches(
        spark, f"{index_dir}/ingest_ledger", man
    )
    delta = try_read_tier(
        spark,
        f"{index_dir}/lists_delta",
        ["vec_id", "label", "embedding", "cid", "batch"],
    )
    if delta is None:
        live, reroutable = [], []
    leftover = sorted(
        (
            set(_all_delta_batches(spark, index_dir))
            & set(man["absorbed"])
        )
        | set(void)
    )
    if not live and not reroutable:
        if leftover:  # absorbed/void in a prior run; only GC remains
            gc_delta_batches(
                index_dir, ("lists_delta", "ingest_ledger"), leftover
            )
        return
    version = man["version"] + 1
    cols = ["vec_id", "label", "embedding", "cid"]
    merged = spark.read.parquet(
        tier_path(index_dir, "lists", man["version"])
    ).select(*cols)
    if live:
        merged = merged.unionByName(
            delta.filter(F.col("batch").isin(live)).select(*cols)
        )
    if reroutable:
        cents = {
            int(r.cid): [float(x) for x in r.centroid]
            for r in spark.read.parquet(
                tier_path(index_dir, "centroids", man["version"])
            ).collect()
        }
        merged = merged.unionByName(
            _assign(
                delta.filter(F.col("batch").isin(reroutable)).select(
                    "vec_id", "label", "embedding"
                ),
                cents,
                exact=False,
            ).select(*cols)
        )
    merged.write.mode("overwrite").partitionBy("cid").parquet(
        tier_path(index_dir, "lists", version)
    )
    spark.read.parquet(
        tier_path(index_dir, "centroids", man["version"])
    ).coalesce(1).write.mode("overwrite").parquet(
        tier_path(index_dir, "centroids", version)
    )
    absorbed_new = sorted(
        set(man["absorbed"]) | set(live) | set(reroutable)
    )
    publish_manifest(
        index_dir,
        version,
        absorbed=absorbed_new,
        epoch=man["epoch"],
        min_live_epoch=man["min_live_epoch"],
    )
    gc_delta_batches(
        index_dir,
        ("lists_delta", "ingest_ledger"),
        sorted(set(absorbed_new) | set(void)),
    )
    gc_versions(index_dir, ("centroids", "lists"), version)


def _all_delta_batches(spark: SparkSession, index_dir: str) -> set[int]:
    from flink_cep_examples_spark.index_manifest import delta_batch_ids

    return set(
        delta_batch_ids(spark, f"{index_dir}/lists_delta")
    ) | set(delta_batch_ids(spark, f"{index_dir}/ingest_ledger"))


def maybe_compact_ivf(
    spark: SparkSession,
    index_dir: str,
    *,
    max_delta_batches: int = 16,
) -> bool:
    """Automatic compaction policy for the vector delta tier — the
    ``maybe_compact_bm25`` twin: compacts iff the LIVE batch count
    reached the threshold OR any REROUTABLE (pre-recluster) batches
    wait for their re-assignment repair; returns whether it did. Each
    live batch adds up to K small files per probe scan, so the batch
    count is the read-amplification knob. Safe to call from the
    ingest stream's foreachBatch tail (serving stays bit-equal)."""
    from flink_cep_examples_spark.index_manifest import read_manifest

    _, live, reroutable = _ivf_live_delta(
        spark, index_dir, read_manifest(index_dir)
    )
    if len(live) < max_delta_batches and not reroutable:
        return False
    ivf_compact_index(spark, index_dir)
    return True


def ivf_search_persisted(
    spark: SparkSession,
    index_dir: str,
    qvec: list[float],
    *,
    nprobe: int = NPROBE,
    top_k: int = TOP_K,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Serve one query off a persisted index: pick the ``nprobe``
    nearest centroids driver-side (K×DIM doubles), read ONLY those
    ``cid=`` partitions (partition-pruned scan, plan-audited), exact
    cosine + top-k. No training, no shuffle beyond TakeOrdered. Both
    tiers resolve off ONE manifest read — a concurrent recluster
    publish can never pair old centroids with new lists. When a
    streamed DELTA tier exists (``streaming/ivf_stream.py``), its
    LIVE batches (ledgered, un-absorbed) union in, pruned on both the
    ``batch`` and ``cid`` partition columns."""
    from flink_cep_examples_spark.index_manifest import (
        read_manifest,
        tier_path,
    )

    man = read_manifest(index_dir)
    live = {
        part: tier_path(index_dir, part, man["version"])
        for part in ("centroids", "lists")
    }
    cents = {
        int(r.cid): [float(x) for x in r.centroid]
        for r in spark.read.parquet(live["centroids"]).collect()
    }

    def py_sqdist(c: list[float]) -> float:
        acc = 0.0
        for x, cc in zip(qvec, c):
            acc += (x - cc) * (x - cc)
        return acc

    probe_cids = [
        c
        for _, c in sorted((py_sqdist(v), c) for c, v in cents.items())[
            :nprobe
        ]
    ]
    lists = spark.read.parquet(live["lists"]).filter(
        F.col("cid").isin(probe_cids)
    )
    delta, _live, _rr = _ivf_live_delta(spark, index_dir, man)
    if delta is not None:
        lists = lists.unionByName(
            delta.filter(F.col("cid").isin(probe_cids)).select(
                "vec_id", "label", "embedding", "cid"
            )
        )
    if exclude_vec_id is not None:
        lists = lists.filter(F.col("vec_id") != exclude_vec_id)
    q = F.array(*[F.lit(float(x)) for x in qvec])
    cos = _dot(F.col("embedding"), q) / (_norm(F.col("embedding")) * _norm(q))
    return (
        lists.select(
            "vec_id", "label", F.col("cid").cast("int").alias("cid"),
            cos.alias("cos")
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(top_k)
    )


def ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog twin of ``ivf_topk`` through the PERSISTED index: write
    the clustered index (idempotent per sf), then serve the fixed
    query vector off it — identical parameters and kernels, so the
    SAME static DuckDB oracle pins it; the search plan additionally
    shows parquet partition pruning on cid (tests/test_plans.py)."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    index_dir = f"{tempfile.gettempdir()}/spark_graft_ivf_index_{tag}"
    ensure_ivf_index(spark, sf_dir, index_dir, k_lists=K_LISTS)
    # pushdown-pruned single-row fetch — the old form repartitioned the
    # whole table (spread) just to read one row (round-16 optimization)
    qvec = [
        float(x)
        for x in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
        .embedding
    ]
    return ivf_search_persisted(
        spark, index_dir, qvec, exclude_vec_id=QUERY_VEC_ID
    )


register(
    "ivf_persisted_topk", ivf_persisted_topk, ORACLE_IVF,
    driver=False,  # r13 rotation: 8 green rounds (r5-r12); pytest-gated now
)


#: deterministic base/delta split for the stream-ingested catalog
#: query: residue 11 keeps every training seed (vec_id < K_LISTS=8)
#: and the pinned query vector 0 in the BASE
_IVF_STREAM_MOD, _IVF_STREAM_RESIDUE = 13, 11

#: (index dirs already stream-ingested by THIS process) — the same
#: build-once rationale as ensure_ivf_index
_IVF_STREAM_BUILT: set[str] = set()


def _ensure_stream_ingested_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Build-once: train the index on the BASE split (vec_id mod 13
    != 11) via the exact oracle kernels, then STREAM the delta split
    in as one availableNow micro-batch through
    ``streaming/ivf_stream.py::ivf_index_stream`` (exact assignment
    for oracle parity). The delta is deliberately left UNCOMPACTED so
    every serve exercises the base ∪ live-delta union path the oracle
    pins."""
    import os
    import tempfile

    from flink_cep_examples_spark.streaming.ivf_stream import (
        ivf_index_stream,
    )

    if index_dir in _IVF_STREAM_BUILT and _index_on_disk(index_dir):
        return
    raw = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    is_delta = (
        F.col("vec_id") % _IVF_STREAM_MOD == _IVF_STREAM_RESIDUE
    )
    with tempfile.TemporaryDirectory() as tmp:
        # stage the base split as an embeddings table the trainer reads
        base_dir = f"{tmp}/base_sf"
        raw.filter(~is_delta).write.parquet(
            f"{base_dir}/embeddings.parquet"
        )
        write_ivf_index(spark, base_dir, index_dir, k_lists=K_LISTS)
        # stream the delta split in (single file -> single micro-batch)
        src = f"{tmp}/delta_src"
        spread(raw.filter(is_delta), "vec_id").select(
            "vec_id", "label", "embedding"
        ).coalesce(1).write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            ivf_index_stream(spark, index_dir, stream, exact=True)
            .option("checkpointLocation", f"{tmp}/chk")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            raise RuntimeError("ivf_index_stream ingest timed out")
    _IVF_STREAM_BUILT.add(index_dir)


def ivf_stream_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-16 catalog query for the ONLINE vector-ingest tier: build
    the IVF index from ~92% of the corpus, stream the remaining split
    in through the batch-keyed delta tier (``ivf_index_stream`` —
    replay-idempotent dynamic partition overwrite, ledger-gated
    serving), then serve the pinned query vector off base ∪ LIVE
    delta. The DuckDB oracle reproduces the full lifecycle in SQL:
    quantizer trained on the base split only, delta rows assigned
    against the FROZEN trained centroids (exactly what ingest does),
    and the probe/top-k over the union — so the gate pins that
    streamed vectors serve with the same ranking a rebuild would give
    them, byte-for-byte."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    index_dir = f"{tempfile.gettempdir()}/spark_graft_ivf_stream_{tag}"
    _ensure_stream_ingested_index(spark, sf_dir, index_dir)
    # pushdown-pruned single-row fetch — the old form repartitioned the
    # whole table (spread) just to read one row (round-16 optimization)
    qvec = [
        float(x)
        for x in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
        .embedding
    ]
    return ivf_search_persisted(
        spark, index_dir, qvec, exclude_vec_id=QUERY_VEC_ID
    )


def _oracle_ivf_stream() -> str:
    return f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
base AS (
  SELECT * FROM e
  WHERE vec_id % {_IVF_STREAM_MOD} != {_IVF_STREAM_RESIDUE}
),
delta AS (
  SELECT * FROM e
  WHERE vec_id % {_IVF_STREAM_MOD} = {_IVF_STREAM_RESIDUE}
),
c0 AS (
  SELECT vec_id AS cid,
         [CAST(x AS DOUBLE) FOR x IN embedding] AS cvec
  FROM base WHERE vec_id < {K_LISTS}
),
{_sql_assign('base', 'c0', 'a1')},
{_SQL_MEANS},
{_sql_assign('base', 'c1', 'a2')},
{_sql_assign('delta', 'c1', 'ad')},
u AS (SELECT * FROM a2 UNION ALL SELECT * FROM ad),
q AS (SELECT embedding AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
probes AS (
  SELECT c1.cid FROM c1, q
  ORDER BY {_sql_sqdist('q.qv', 'c1.cvec')} ASC, c1.cid ASC
  LIMIT {NPROBE}
)
SELECT u.vec_id, u.label, u.cid,
       {_sql_dot('u.embedding', 'q.qv')}
         / ({_sql_norm('u.embedding')} * {_sql_norm('q.qv')}) AS cos
FROM u JOIN probes USING (cid), q
WHERE u.vec_id != {QUERY_VEC_ID}
ORDER BY cos DESC, u.vec_id ASC
LIMIT {TOP_K}
"""


register(
    "ivf_stream_served_topk",
    ivf_stream_served_topk,
    _oracle_ivf_stream(),
    # round 16 registration after the gate filled: joins the
    # never-verified pool at the head of the r17 promotion queue
    driver=False,
)


def ann_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (round 7): the full FAISS-style billion-vector serving
    shape — IVF coarse quantizer PRUNES the candidate set to NPROBE
    inverted lists, then PQ/ADC scores only the survivors against the
    broadcast query lookup table. Composes the two oracle-pinned
    halves this module and queries/similarity.py::ann_pq_topk already
    prove bit-exact: the trained assignment (seed = K smallest
    vec_ids, one exact-decimal Lloyd refinement) and the
    raw-vector PQ codebook (sub-vectors of the PQ_K smallest vec_ids).

    Scale story: probe cost per query = NPROBE/K of the corpus × M
    LUT lookups per vector — both knobs (``n_lists(n)``, PQ_M)
    corpus-scaled; the corpus is stored as cid-partitioned CODES (M
    bytes/vector — ~25× smaller than float32), raw vectors needed
    only at (re)encode time. Shuffles key on vec_id; codebook, LUT,
    and probe list are broadcast."""
    from flink_cep_examples_spark.queries.similarity import (
        PQ_K,
        PQ_S,
        _TERM_DEC,
    )

    emb = (
        spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
        .select("vec_id", "label", "embedding")
        .localCheckpoint()  # training + codebook fetch rescan it
    )
    # ONE driver fetch covers the IVF seeds (vec_id < K_LISTS), the
    # query vector, AND the PQ codebook rows (vec_id < PQ_K) — the old
    # form ran three separate jobs over emb for them (round-16
    # optimization, guide §1.2/§5: fewer driver round-trips).
    pre = sorted(
        emb.filter(
            (F.col("vec_id") < max(K_LISTS, PQ_K))
            | (F.col("vec_id") == QUERY_VEC_ID)
        )
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: int(r.vec_id),
    )
    assigned, cents = _trained_assignment(
        emb, K_LISTS, exact=True, seed_rows=pre
    )

    qvec = [
        float(x)
        for r in pre
        if int(r.vec_id) == QUERY_VEC_ID
        for x in r.embedding
    ]
    if not qvec:
        raise ValueError(
            f"query vector vec_id={QUERY_VEC_ID} missing from embeddings"
        )

    def py_sqdist(c: list[float]) -> float:
        acc = 0.0
        for x, cc in zip(qvec, c):
            acc += (x - cc) * (x - cc)
        return acc

    probe_cids = [
        c
        for _, c in sorted(
            (py_sqdist(v), c) for c, v in cents.items()
        )[:NPROBE]
    ]
    pruned = assigned.filter(F.col("cid").isin(probe_cids)).filter(
        F.col("vec_id") != QUERY_VEC_ID
    )

    # PQ codebook: sub-vectors of the PQ_K smallest vec_ids (identical
    # to ann_pq_topk — codes are data-independent of the pruning),
    # sliced from the same prefetched rows
    cb = spark.createDataFrame(
        [
            (int(r.vec_id), pos, float(x))
            for r in pre
            if int(r.vec_id) < PQ_K
            for pos, x in enumerate(r.embedding)
        ],
        "cw int, pos int, cx double",
    )
    dec = lambda c: c.cast(_TERM_DEC)  # noqa: E731

    e = (
        pruned.select(
            "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
        )
        .withColumn("x", F.col("x").cast("double"))
        .withColumn("b", (F.col("pos") / PQ_S).cast("int"))
    )
    diff = F.col("x") - F.col("cx")
    l2 = (
        e.join(F.broadcast(cb), "pos")
        .groupBy("vec_id", "label", "b", "cw")
        .agg(F.sum(dec(diff * diff)).alias("l2"))
    )
    code = (
        l2.groupBy("vec_id", "label", "b")
        .agg(F.min(F.struct("l2", "cw")).alias("m"))
        .select("vec_id", "label", "b", F.col("m.cw").alias("cw"))
    )

    # ADC lookup table + query self-norm as LOCAL frames from the
    # already-collected rows (round-17, guide §1.2 — the r16 deferred
    # item): the old form ran a 512-row Spark join+groupBy inside the
    # LUT broadcast build plus a separate qn2 job; both frames are now
    # LocalTableScan + Project, so their broadcast builds launch no
    # tasks. Exactness argument in similarity.py::_adc_local_frames —
    # only IEEE products are computed in Python; every decimal cast
    # and sum stays in Spark.
    from flink_cep_examples_spark.queries.similarity import (
        _adc_local_frames,
    )

    lut, qn2 = _adc_local_frames(
        spark,
        [
            (int(r.vec_id), [float(x) for x in r.embedding])
            for r in pre
            if int(r.vec_id) < PQ_K
        ],
        qvec,
    )
    cos = F.col("dot") / F.sqrt(F.col("n2") * F.col("qn2"))
    return (
        code.join(F.broadcast(lut), ["b", "cw"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(F.sum("qdot"), 12).cast("double").alias("dot"),
            F.round(F.sum("cn2"), 12).cast("double").alias("n2"),
        )
        .crossJoin(F.broadcast(qn2))
        .select("vec_id", "label", cos.alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def _oracle_ivfadc() -> str:
    from flink_cep_examples_spark.queries.similarity import (
        PQ_K,
        PQ_M,
        PQ_S,
        _sql_dec_dot,
        _sql_dec_dot_raw,
        _sql_dec_l2,
    )

    sl = (
        lambda v: f"list_slice({v}, blocks.b * {PQ_S} + 1,"
        f" (blocks.b + 1) * {PQ_S})"
    )
    return f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
c0 AS (
  SELECT vec_id AS cid,
         [CAST(x AS DOUBLE) FOR x IN embedding] AS cvec
  FROM e WHERE vec_id < {K_LISTS}
),
{_sql_assign('e', 'c0', 'a1')},
{_SQL_MEANS},
{_sql_assign('e', 'c1', 'a2')},
q AS (SELECT embedding AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
probes AS (
  SELECT c1.cid FROM c1, q
  ORDER BY {_sql_sqdist('q.qv', 'c1.cvec')} ASC, c1.cid ASC
  LIMIT {NPROBE}
),
pruned AS (
  SELECT a2.vec_id, a2.label, a2.embedding
  FROM a2 JOIN probes USING (cid)
  WHERE a2.vec_id != {QUERY_VEC_ID}
),
cb AS (
  SELECT vec_id AS cw, embedding AS cv FROM embeddings
  WHERE vec_id < {PQ_K}
),
blocks AS (SELECT unnest(range({PQ_M})) AS b),
lut AS (
  SELECT blocks.b, cb.cw,
         {_sql_dec_dot_raw(sl('cb.cv'), sl('q.qv'))} AS qdot,
         {_sql_dec_dot_raw(sl('cb.cv'), sl('cb.cv'))} AS cn2
  FROM cb, blocks, q
),
assign AS (
  SELECT p.vec_id, p.label, blocks.b, cb.cw,
         {_sql_dec_l2(sl('p.embedding'), sl('cb.cv'))} AS l2
  FROM pruned p, blocks, cb
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY p.vec_id, blocks.b ORDER BY l2, cb.cw) = 1
)
SELECT a.vec_id, a.label,
       CAST(ROUND(SUM(l.qdot), 12) AS DOUBLE)
         / sqrt(CAST(ROUND(SUM(l.cn2), 12) AS DOUBLE)
                * (SELECT {_sql_dec_dot('qv', 'qv')} FROM q)) AS cos
FROM assign a JOIN lut l ON l.b = a.b AND l.cw = a.cw
GROUP BY a.vec_id, a.label
ORDER BY cos DESC, vec_id ASC
LIMIT {TOP_K}
"""


register(
    "ann_ivfadc_topk",
    ann_ivfadc_topk,
    _oracle_ivfadc(),
    # r14 rotation: driver-verified green r7-r13; pytest-gated now
    driver=False,
)


def ann_mmr_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k over the PARTITION-PRUNED IVF candidate
    stage — the 100-TB serving composition of :func:`ann_mmr_topk`
    (whose catalog form scores candidates with the exact brute plan):
    stage 1 reads only the NPROBE nearest inverted lists (the
    persisted-index twin prunes at the parquet-partition level, see
    :func:`ivf_persisted_topk`), stage 2+3 are the shared MMR rerank
    (queries/similarity.py::mmr_rerank — M×M distributed sim matrix +
    driver-side K-step greedy, every collect bounded by M=16 /
    M(M−1)/2=120 BY CONSTRUCTION). Rerank cost is corpus-independent;
    the candidate stage is the partition-pruned scan, so the whole
    query scales exactly as IVF serving does. Recall vs the exact-MMR
    picks is gated in tests/test_ann_recall.py."""
    from flink_cep_examples_spark.queries.similarity import (
        MMR_M,
        mmr_rerank,
    )

    cand = (
        ivf_topk(spark, sf_dir, k=MMR_M)
        .select("vec_id", "cos")
        .collect()  # M rows — bounded by construction
    )
    return mmr_rerank(spark, sf_dir, cand)


def _oracle_mmr_ivf() -> str:
    """IVF candidate CTEs (the ORACLE_IVF quantizer chain verbatim,
    LIMIT M instead of TOP_K) feeding the shared MMR greedy CTEs."""
    from flink_cep_examples_spark.queries.similarity import (
        MMR_M,
        _oracle_mmr,
    )

    cand_ctes = f"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
c0 AS (
  SELECT vec_id AS cid,
         [CAST(x AS DOUBLE) FOR x IN embedding] AS cvec
  FROM e WHERE vec_id < {K_LISTS}
),
{_sql_assign('e', 'c0', 'a1')},
{_SQL_MEANS},
{_sql_assign('e', 'c1', 'a2')},
qiv AS (SELECT embedding AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
probes AS (
  SELECT c1.cid FROM c1, qiv
  ORDER BY {_sql_sqdist('qiv.qv', 'c1.cvec')} ASC, c1.cid ASC
  LIMIT {NPROBE}
),
cand AS (
  SELECT a2.vec_id,
         {_sql_dot('a2.embedding', 'qiv.qv')}
           / ({_sql_norm('a2.embedding')} * {_sql_norm('qiv.qv')}) AS cos
  FROM a2 JOIN probes USING (cid), qiv
  WHERE a2.vec_id != {QUERY_VEC_ID}
  ORDER BY cos DESC, a2.vec_id ASC
  LIMIT {MMR_M}
)"""
    return _oracle_mmr(cand_ctes)


register(
    "ann_mmr_ivf_topk",
    ann_mmr_ivf_topk,
    _oracle_mmr_ivf(),
    # round 13: the ann_mmr_topk 100-TB swap proven as a catalog query
    # (VERDICT r12 item 4) — straight into the driver gate
)


def ann_mmr_ivf_persisted_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MMR served off the PERSISTED IVF index (round 14, VERDICT r13
    item 5): the production form of :func:`ann_mmr_ivf_topk`, whose
    catalog shape retrains the coarse quantizer inline per call
    (oracle-parity exact mode — correct but 4 training actions at
    serve time). Here the quantizer is trained ONCE per session via
    :func:`ensure_ivf_index` (shared with ``ivf_persisted_topk`` —
    same index dir, so a serving fleet pays one training pass total),
    and serve time is:

    - stage 1: :func:`ivf_search_persisted` with ``top_k=MMR_M`` —
      driver-side probe pick over K×DIM collected centroid doubles,
      then ONE partition-pruned parquet scan of the NPROBE ``cid=``
      lists (plan-audited: ``PartitionFilters`` on cid, no documents/
      embeddings rescan, no training action —
      tests/test_plans.py::test_mmr_ivf_persisted_serves_without_training);
    - stages 2+3: the shared ``mmr_rerank`` (M×M distributed sim
      matrix + driver-side K-step greedy; every collect bounded by
      M=16 / M(M−1)/2=120 BY CONSTRUCTION).

    Same candidate chain, parameters, and tiebreaks as the inline
    form, so the SAME DuckDB oracle pins it."""
    import hashlib
    import tempfile

    from flink_cep_examples_spark.queries.similarity import (
        MMR_M,
        mmr_rerank,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    index_dir = f"{tempfile.gettempdir()}/spark_graft_ivf_index_{tag}"
    ensure_ivf_index(spark, sf_dir, index_dir, k_lists=K_LISTS)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
        .embedding
    ]
    cand = (
        ivf_search_persisted(
            spark,
            index_dir,
            qvec,
            top_k=MMR_M,
            exclude_vec_id=QUERY_VEC_ID,
        )
        .select("vec_id", "cos")
        .collect()  # M rows — bounded by construction
    )
    return mmr_rerank(spark, sf_dir, cand)


register(
    "ann_mmr_ivf_persisted_topk",
    ann_mmr_ivf_persisted_topk,
    _oracle_mmr_ivf(),
    # r15 rotation: promoted (never-driver-verified pool)
)


#: the fixed multi-query serving batch (three live query vectors —
#: enough to exercise per-query probe unions, per-query exclusion, and
#: per-query top-k without an expensive oracle)
QUERY_VEC_IDS = (0, 7, 21)


def ivf_search_persisted_many(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, list[float]],
    *,
    nprobe: int = NPROBE,
    top_k: int = TOP_K,
) -> DataFrame:
    """Serve a BATCH of queries off one persisted index — the shape a
    retrieval tier actually runs (one query per scan would rescan the
    probe lists per request): probe cids are picked driver-side per
    query over the collected K×DIM centroids (bounded), the UNION of
    probe lists is read in ONE partition-pruned scan, the |Q|×NPROBE
    (qid, cid, qvec) probe table broadcasts onto it, and per-query
    top-k is a window keyed by qid over candidate rows only (NPROBE/K
    of the corpus per query, never the corpus). A query never returns
    itself (``vec_id != qid`` — self-hits are noise in dedup/recsys
    serving)."""
    from pyspark.sql import Window

    from flink_cep_examples_spark.index_manifest import (
        read_manifest,
        tier_path,
    )

    man = read_manifest(index_dir)
    live = {
        part: tier_path(index_dir, part, man["version"])
        for part in ("centroids", "lists")
    }
    cents = {
        int(r.cid): [float(x) for x in r.centroid]
        for r in spark.read.parquet(live["centroids"]).collect()
    }

    probe_rows: list[tuple[int, int]] = []
    for qid in sorted(queries):
        qvec = queries[qid]

        def py_sqdist(c: list[float]) -> float:
            acc = 0.0
            for x, cc in zip(qvec, c):
                acc += (x - cc) * (x - cc)
            return acc

        probe_rows += [
            (qid, int(c))
            for _, c in sorted(
                (py_sqdist(v), c) for c, v in cents.items()
            )[:nprobe]
        ]

    union_cids = sorted({c for _, c in probe_rows})
    lists = spark.read.parquet(live["lists"]).filter(
        F.col("cid").isin(union_cids)
    )
    delta, _live, _rr = _ivf_live_delta(spark, index_dir, man)
    if delta is not None:
        lists = lists.unionByName(
            delta.filter(F.col("cid").isin(union_cids)).select(
                "vec_id", "label", "embedding", "cid"
            )
        )
    qdf = spark.createDataFrame(
        [
            (qid, cid, [float(x) for x in queries[qid]])
            for qid, cid in probe_rows
        ],
        "qid long, cid int, qv array<double>",
    )
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        _norm(F.col("embedding")) * _norm(F.col("qv"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        lists.join(F.broadcast(qdf), "cid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            F.col("cid").cast("int").alias("cid"),
            cos.alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .drop("rk")
        .orderBy(F.asc("qid"), F.desc("cos"), F.asc("vec_id"))
    )


def ann_serve_many_persisted_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Catalog form of multi-query IVF serving (round 14): train-once
    via :func:`ensure_ivf_index` (the shared session index), then serve
    the fixed ``QUERY_VEC_IDS`` batch through
    :func:`ivf_search_persisted_many` — one pruned scan, |Q| top-k
    lists out. Same quantizer chain as ``ORACLE_IVF`` so the oracle
    extends it with per-query QUALIFY windows."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    index_dir = f"{tempfile.gettempdir()}/spark_graft_ivf_index_{tag}"
    ensure_ivf_index(spark, sf_dir, index_dir, k_lists=K_LISTS)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(
            F.col("vec_id").isin(list(QUERY_VEC_IDS))
        ).collect()
    }
    return ivf_search_persisted_many(spark, index_dir, queries)


def _oracle_serve_many() -> str:
    ids = ", ".join(str(i) for i in QUERY_VEC_IDS)
    return f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
c0 AS (
  SELECT vec_id AS cid,
         [CAST(x AS DOUBLE) FOR x IN embedding] AS cvec
  FROM e WHERE vec_id < {K_LISTS}
),
{_sql_assign('e', 'c0', 'a1')},
{_SQL_MEANS},
{_sql_assign('e', 'c1', 'a2')},
qs AS (SELECT vec_id AS qid, embedding AS qv FROM e
       WHERE vec_id IN ({ids})),
probes AS (
  SELECT qid, cid FROM (
    SELECT qs.qid, c1.cid,
           ROW_NUMBER() OVER (
             PARTITION BY qs.qid
             ORDER BY {_sql_sqdist('qs.qv', 'c1.cvec')} ASC, c1.cid ASC
           ) AS rn
    FROM c1 CROSS JOIN qs)
  WHERE rn <= {NPROBE}
),
cand AS (
  SELECT qs.qid, a2.vec_id, a2.label, a2.cid,
         {_sql_dot('a2.embedding', 'qs.qv')}
           / ({_sql_norm('a2.embedding')} * {_sql_norm('qs.qv')}) AS cos
  FROM a2 JOIN probes ON a2.cid = probes.cid
         JOIN qs ON qs.qid = probes.qid
  WHERE a2.vec_id != qs.qid
)
SELECT qid, vec_id, label, cid, cos FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rk
  FROM cand)
WHERE rk <= {TOP_K}
ORDER BY qid ASC, cos DESC, vec_id ASC
"""


register(
    "ann_serve_many_persisted_topk",
    ann_serve_many_persisted_topk,
    _oracle_serve_many(),
    # r15 rotation: promoted (never-driver-verified pool)
)


def hybrid_rrf_persisted_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fully-persisted hybrid retrieval (round 14): BOTH arms served
    off pre-built indexes — the production RAG serving shape. Lexical
    arm = the term-bucket-partitioned BM25 inverted index
    (``bm25_search_persisted``, PartitionFilters on term_bucket);
    semantic arm = the cid-partitioned IVF index
    (``ivf_search_persisted`` through the session train-once guard);
    fusion = the SHARED ``rrf_fuse`` kernel
    (queries/similarity.py), so this tier cannot drift from the
    corpus-scan hybrid's arithmetic. Serve cost: two partition-pruned
    scans + two TOP_K-row windows — no corpus scan, no training
    action at serve time. Oracle = the BM25 oracle arm + the
    ``ORACLE_IVF`` quantizer-chain arm through the same fusion SQL
    (the semantic arm here is the APPROXIMATE IVF list, so the oracle
    differs from ``docs_hybrid_rrf_topk``'s brute-force arm exactly
    where the plans differ)."""
    import hashlib
    import tempfile

    from flink_cep_examples_spark.queries.similarity import rrf_fuse
    from flink_cep_examples_spark.queries.text import (
        BM25_QUERY,
        bm25_search_persisted,
        ensure_bm25_index,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    bm25_dir = f"{tempfile.gettempdir()}/spark_graft_bm25_index_{tag}"
    ensure_bm25_index(spark, sf_dir, bm25_dir)
    lex = bm25_search_persisted(spark, bm25_dir, BM25_QUERY).select(
        "doc_id", "score"
    )

    ivf_dir = f"{tempfile.gettempdir()}/spark_graft_ivf_index_{tag}"
    ensure_ivf_index(spark, sf_dir, ivf_dir, k_lists=K_LISTS)
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .first()
        .embedding
    ]
    sem = ivf_search_persisted(
        spark, ivf_dir, qvec, exclude_vec_id=QUERY_VEC_ID
    ).select(F.col("vec_id").alias("doc_id"), "cos")
    return rrf_fuse(lex, sem)


def _oracle_hybrid_persisted() -> str:
    from flink_cep_examples_spark.queries.text import _oracle_bm25

    return f"""
WITH lexarm AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r_lex
  FROM ({_oracle_bm25()})
),
semarm AS (
  SELECT vec_id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC) AS r_sem
  FROM ({ORACLE_IVF})
)
SELECT doc_id,
       COALESCE(r_lex, 0) AS r_lex,
       COALESCE(r_sem, 0) AS r_sem,
       COALESCE(1.0e0 / (6.0e1 + CAST(r_lex AS DOUBLE)), 0.0e0)
         + COALESCE(1.0e0 / (6.0e1 + CAST(r_sem AS DOUBLE)), 0.0e0)
         AS rrf
FROM lexarm FULL JOIN semarm USING (doc_id)
ORDER BY rrf DESC, doc_id ASC
LIMIT {TOP_K}
"""


register(
    "hybrid_rrf_persisted_topk",
    hybrid_rrf_persisted_topk,
    _oracle_hybrid_persisted(),
    # r15 rotation: promoted (never-driver-verified pool)
)


def hybrid_rrf_serve_many_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batched hybrid retrieval (round 16) — the full RAG batch-serving
    shape, completing the serve-many story end-to-end: THREE hybrid
    queries answered off the two persisted indexes in ONE pruned scan
    per arm. Lexical arm = ``bm25_search_persisted_many`` (union-term
    bucket pruning, per-qid pivot scores); semantic arm =
    ``ivf_search_persisted_many`` over the paired query vectors (one
    union-of-probe-lists scan); fusion = the per-query
    ``rrf_fuse_many`` kernel (rank windows partitioned by qid). Query
    pairing: hybrid qid i ↔ (BM25_MANY_QUERIES[i], QUERY_VEC_IDS[i]),
    so qid 0 reproduces the single-query ``hybrid_rrf_persisted_topk``
    pairing. Serve cost: two partition-pruned scans + bounded windows
    — no corpus scan, no training action."""
    import hashlib
    import tempfile

    from flink_cep_examples_spark.queries.similarity import rrf_fuse_many
    from flink_cep_examples_spark.queries.text import (
        BM25_MANY_QUERIES,
        bm25_search_persisted_many,
        ensure_bm25_index,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    bm25_dir = f"{tempfile.gettempdir()}/spark_graft_bm25_index_{tag}"
    ensure_bm25_index(spark, sf_dir, bm25_dir)
    lex = bm25_search_persisted_many(
        spark, bm25_dir, BM25_MANY_QUERIES
    ).select("qid", "doc_id", "score")

    ivf_dir = f"{tempfile.gettempdir()}/spark_graft_ivf_index_{tag}"
    ensure_ivf_index(spark, sf_dir, ivf_dir, k_lists=K_LISTS)
    emb = load_table(spark, sf_dir, "embeddings")
    vec_queries = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.filter(
            F.col("vec_id").isin(list(QUERY_VEC_IDS))
        ).collect()
    }
    qid_of_vec = {v: i for i, v in enumerate(QUERY_VEC_IDS)}
    remap = F.lit(None).cast("int")
    for vec_id, qid in sorted(qid_of_vec.items(), reverse=True):
        remap = F.when(F.col("qid") == vec_id, F.lit(qid)).otherwise(remap)
    sem = ivf_search_persisted_many(spark, ivf_dir, vec_queries).select(
        remap.alias("qid"), F.col("vec_id").alias("doc_id"), "cos"
    )
    return rrf_fuse_many(lex, sem)


def _oracle_hybrid_many() -> str:
    from flink_cep_examples_spark.queries.text import _oracle_bm25_many

    remap = " ".join(
        f"WHEN {vec_id} THEN {qid}"
        for qid, vec_id in enumerate(QUERY_VEC_IDS)
    )
    return f"""
WITH lexarm AS (
  SELECT qid, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS r_lex
  FROM ({_oracle_bm25_many()})
),
semarm AS (
  SELECT CASE qid {remap} END AS qid,
         vec_id AS doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS r_sem
  FROM ({_oracle_serve_many()})
),
fused AS (
  SELECT qid, doc_id,
         COALESCE(r_lex, 0) AS r_lex,
         COALESCE(r_sem, 0) AS r_sem,
         COALESCE(1.0e0 / (6.0e1 + CAST(r_lex AS DOUBLE)), 0.0e0)
           + COALESCE(1.0e0 / (6.0e1 + CAST(r_sem AS DOUBLE)), 0.0e0)
           AS rrf
  FROM lexarm FULL JOIN semarm USING (qid, doc_id)
)
SELECT qid, doc_id, r_lex, r_sem, rrf FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY rrf DESC, doc_id ASC) AS rn
  FROM fused)
WHERE rn <= {TOP_K}
"""


register(
    "hybrid_rrf_serve_many_topk",
    hybrid_rrf_serve_many_topk,
    _oracle_hybrid_many(),
    # round 16 registration after the gate filled: joins the
    # never-verified pool at the head of the r17 promotion queue
    driver=False,
)


@pandas_udf(DoubleType())
def _pd_sqdist(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized squared L2 distance between two array columns.
    Fold contract: per-DIMENSION sequential accumulation across the
    batch — ``acc += (a_d - b_d)²`` in ascending dimension order — so
    every double is bit-identical to the interpreted zip/fold
    (:func:`_sqdist`'s order) and to the oracle's ``_sql_sqdist``
    list_sum (the ``similarity.py::_pd_cos`` pattern; an interpreted
    HOF form would dominate at |eval|×K probe volumes)."""
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    A = np.vstack(a.to_numpy()).astype(np.float64)
    B = np.vstack(b.to_numpy()).astype(np.float64)
    acc = np.zeros(len(A))
    for d in range(A.shape[1]):
        diff = A[:, d] - B[:, d]
        acc += diff * diff
    return pd.Series(acc)


def docs_semantic_decontaminate_ivf(
    spark: SparkSession, sf_dir: str, *, k_lists: int | None = K_LISTS
) -> DataFrame:
    """Semantic decontamination through the persisted IVF index
    (round 15) — the IMPLEMENTED form of the big-eval-set swap that
    ``docs_semantic_decontaminate``'s closure guard names: when the
    frozen eval set is too large to ride every task's closure
    (|eval| > SEM_EVAL_MAX_ROWS ⇒ the exact scorer raises), run the
    eval vectors as QUERIES against the corpus index instead.

    Fully distributed — no |eval|-sized driver state anywhere:

    - probe selection: eval vectors (a DataFrame, never collected)
      cross-join the K-row broadcast centroid table; top-NPROBE cids
      per eval vector via one window (K is the bounded quantizer
      size, so the intermediate is K×|eval| rows, distributed);
    - candidate generation: ONE shuffle join of the probe table with
      the index lists on ``cid`` (at large |eval| the probes cover
      most lists, so the cost model is the join, not partition
      pruning — each corpus vector still meets only the eval vectors
      probing ITS list, never all of them);
    - scoring: the same ``_dot``/``_norm`` cosine as every other
      tier; hits at cos ≥ SEM_TAU aggregate to per-corpus-vector
      (n_hits, max_cos).

    Same output schema as the exact scorer. APPROXIMATE by
    construction: a contaminated vector is missed iff its list is
    outside every matching eval vector's NPROBE probes — so flags are
    a SUBSET of the exact sweep's (pinned by
    tests/test_ann_recall.py::test_semantic_decontam_ivf_subset_of_exact),
    which is the trade the swap buys for unbounded |eval|. The exact
    recall-1 scorer remains the default below the closure budget.

    ``k_lists``: the catalog entry pins ``K_LISTS`` for oracle
    byte-stability, which makes the fixture shape NEAR-QUADRATIC
    (NPROBE/K = 1/4 pruning only — the same known-quadratic control
    role ``semdedup_prune``'s pinned K plays). Deployment passes
    ``k_lists=None`` → corpus-scaled ``n_lists(n)``: candidate volume
    is n·|eval|·NPROBE/K = 256·NPROBE·|eval| — linear in |eval|,
    INDEPENDENT of corpus size (each corpus vector meets only the
    eval vectors probing its own list). The scale probe measures the
    ``k_lists=None`` knob (``tools/scale_smoke.py`` ``_auto`` row),
    never the pinned control. A non-default knob trains under its own
    index dir so the shared session index is never clobbered."""
    import hashlib
    import tempfile

    from flink_cep_examples_spark.queries.similarity import (
        SEM_EVAL_MOD,
        SEM_EVAL_RESIDUE,
        SEM_TAU,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    knob = "" if k_lists == K_LISTS else f"_k{k_lists or 'auto'}"
    index_dir = f"{tempfile.gettempdir()}/spark_graft_ivf_index_{tag}{knob}"
    ensure_ivf_index(spark, sf_dir, index_dir, k_lists=k_lists)

    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = (F.col("vec_id") % SEM_EVAL_MOD) == SEM_EVAL_RESIDUE
    ev = emb.filter(is_eval).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    from flink_cep_examples_spark.index_manifest import resolve_tiers

    live = resolve_tiers(index_dir, ("centroids", "lists"))
    cents = spark.read.parquet(live["centroids"])
    w = Window.partitionBy("qid").orderBy(F.asc("sq"), F.asc("cid"))
    # Arrow-vectorized sqdist/cosine kernels (bit-identical to the HOF
    # folds): the probe stage evaluates |eval|×K distances and the hit
    # stage |eval|·n·NPROBE/K cosines — interpreted HOFs dominate both
    # at scale (measured 12.2× growth at the K=100 deployment knob
    # before vectorization).
    from flink_cep_examples_spark.queries.similarity import _pd_cos

    probes = (
        ev.crossJoin(F.broadcast(cents))
        .withColumn(
            "sq",
            _pd_sqdist(
                F.col("qv").cast("array<double>"),
                F.col("centroid"),
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= NPROBE)
        .select("qid", "qv", "cid")
    )
    lists = spark.read.parquet(live["lists"]).filter(
        (F.col("vec_id") % SEM_EVAL_MOD) != SEM_EVAL_RESIDUE
    )
    hits = (
        lists.join(probes, "cid")
        .select(
            "qid",
            "vec_id",
            _pd_cos(
                F.col("embedding").cast("array<double>"),
                F.col("qv").cast("array<double>"),
            ).alias("cos"),
        )
        .filter(F.col("cos") >= SEM_TAU)
    )
    return hits.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_hits"), F.max("cos").alias("max_cos")
    )


def _oracle_sem_decontam_ivf() -> str:
    from flink_cep_examples_spark.queries.similarity import (
        SEM_EVAL_MOD,
        SEM_EVAL_RESIDUE,
        SEM_TAU,
    )

    return f"""
WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
c0 AS (
  SELECT vec_id AS cid,
         [CAST(x AS DOUBLE) FOR x IN embedding] AS cvec
  FROM e WHERE vec_id < {K_LISTS}
),
{_sql_assign('e', 'c0', 'a1')},
{_SQL_MEANS},
{_sql_assign('e', 'c1', 'a2')},
ev AS (SELECT vec_id AS qid, embedding AS qv FROM e
       WHERE vec_id % {SEM_EVAL_MOD} = {SEM_EVAL_RESIDUE}),
probes AS (
  SELECT qid, qv, cid FROM (
    SELECT ev.qid, ev.qv, c1.cid,
           ROW_NUMBER() OVER (
             PARTITION BY ev.qid
             ORDER BY {_sql_sqdist('ev.qv', 'c1.cvec')} ASC, c1.cid ASC
           ) AS rn
    FROM ev CROSS JOIN c1)
  WHERE rn <= {NPROBE}
),
cand AS (
  SELECT probes.qid, a2.vec_id,
         {_sql_dot('a2.embedding', 'probes.qv')}
           / ({_sql_norm('a2.embedding')} * {_sql_norm('probes.qv')})
           AS cos
  FROM a2 JOIN probes USING (cid)
  WHERE a2.vec_id % {SEM_EVAL_MOD} != {SEM_EVAL_RESIDUE}
)
SELECT vec_id, COUNT(*) AS n_hits, MAX(cos) AS max_cos
FROM cand WHERE cos >= {SEM_TAU}
GROUP BY vec_id
"""


register(
    "docs_semantic_decontaminate_ivf",
    docs_semantic_decontaminate_ivf,
    _oracle_sem_decontam_ivf(),
    # r16 rotation: promoted (never-driver-verified r15 registration)
)
