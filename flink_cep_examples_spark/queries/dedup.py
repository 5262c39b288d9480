"""Deduplication operators over the ``documents`` table — exact,
n-gram-Jaccard, MinHash+LSH, and SimHash — the dedup family a
large-scale training-data pipeline needs.

Scale design (100 TB mindset):

- **Exact dedup** shuffles only a 32-byte md5 per doc (groupBy on the
  content hash; the text column never crosses the wire).
- **MinHash+LSH** is the scale path for near-dup: per-doc signatures are
  computed scan-side (one pass, built-in functions only — no Python),
  docs shuffle once per band on a tiny (band, key) pair, and only
  bucket-colliding candidates are compared. State per reducer is one
  bucket's membership, never O(n²).
- **n-gram Jaccard** applies the sound size filter
  ``min(|A|,|B|) >= t * max(|A|,|B|)`` (set-similarity-join literature)
  before computing exact overlap; still O(candidate-pairs) — documented
  as the correctness gate that LSH recall is measured against, not the
  100 TB path.
- All ORACLE-facing hashing is md5-derived (portable: identical in
  Spark and DuckDB), with fixed permutation constants — fully
  deterministic across runs and engines. The md5 catalog queries are
  built-in ``pyspark.sql.functions`` only (codegen end-to-end).
- The "vector" signature mode (round 5, the ingest/deployment default
  for streaming near-dedup) keeps the identical MinHash/banding
  STRUCTURE but hashes inside one flat-numpy Arrow kernel
  (``vector_band_keys_kernel``) — no per-token Python, measured
  ~60-70k docs/s on local[8] vs 4.2k for the memoized per-token-md5
  kernel it replaces as default. DuckDB cannot reproduce it, so it is
  pytest-gated (planted-dup recall + batch/stream agreement) rather
  than oracle-gated.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves the Arrow kernel's type hints

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cep_examples_spark.queries import register
from flink_cep_examples_spark.sources.tables import load_table, spread

#: Mersenne prime 2^31 - 1: keeps (a*h + b) % P inside int64.
P = 2_147_483_647

#: Fixed MinHash permutation constants (deterministic; generated once
#: from the LCG x -> (1103515245 x + 12345) mod 2^31 seeded at 42).
MINHASH_AB = [
    (1250496027, 1116302264), (1000197917, 1669573542),
    (655939761, 337678108), (929265307, 945482809),
    (1634915998, 1634208519), (217140536, 1171917789),
    (1939403527, 783368690), (1178568022, 1271438522),
    (1355621028, 1494389603), (1532146233, 1741849297),
    (1243502087, 1602827009), (1077893732, 1442188101),
    (1662160292, 662415610), (1815422009, 1968612597),
    (2048058518, 8394568), (1081232569, 1313980438),
    (2113525983, 1851836679), (656696034, 1177783124),
    (1241689220, 187285130), (1724586126, 1159159358),
    (1508742531, 1183051542), (1949051396, 1746163896),
    (105839021, 1348786446), (1274024551, 1682511131),
    (1992173386, 1880565231), (723563354, 1802842551),
    (1231583941, 745845152), (1452828912, 1529970549),
    (996617000, 1127804867), (577610504, 365781531),
    (1330077821, 285377242), (1647637699, 102830063),
]
NUM_HASHES = len(MINHASH_AB)  # 32
BANDS, ROWS_PER_BAND = 8, 4  # 8 bands x 4 rows
JACCARD_T = 0.5

_NONWORD = r"[^a-z0-9 ]"


def _norm_text(c) -> Column:
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), _NONWORD, ""), r" +", " ")
    )


def _tokens(c) -> Column:
    return F.split(_norm_text(c), " ")


def _shingles(c, n: int = 3) -> Column:
    """Distinct token n-grams (contiguous), joined with spaces."""
    toks = _tokens(c)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def _h31(s) -> Column:
    """Portable 31-bit string hash: first 15 md5 hex digits mod P."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint") % P


_SQL_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


def _sql_h31(s: str) -> str:
    return f"(CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT) % {P})"


def _sql_shingles(n: int = 3) -> str:
    """DuckDB: distinct token 3-grams of the normalized text."""
    return (
        f"list_distinct([array_to_string(toks[i:i+{n - 1}], ' ') "
        f"FOR i IN range(1, greatest(len(toks) - {n - 2}, 2))])"
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized-content hash: every doc mapped to
    its canonical (minimum) doc_id; ``n_dups`` = group size.

    Round-16 optimization (guide §2.4): the old groupBy + join-back
    form re-derived the fingerprint pipeline on BOTH branches (two
    parquet scans + two md5-normalize passes + two exchanges on ``fp``
    + the join); the window form computes the identical (canonical_id,
    n_dups) per row in ONE scan and ONE exchange. Skew profile is
    unchanged — either form co-locates a duplicate group on one task."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = spread(docs, "doc_id").select(
        "doc_id", F.md5(_norm_text(F.col("text"))).alias("fp")
    )
    w = Window.partitionBy("fp")
    return fp.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("n_dups"),
    )


ORACLE_EXACT = f"""
WITH fp AS (
  SELECT doc_id, md5({_SQL_NORM}) AS fp FROM documents
),
groups AS (
  SELECT fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
  FROM fp GROUP BY fp
)
SELECT doc_id, canonical_id, n_dups
FROM fp JOIN groups USING (fp)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard >= JACCARD_T. Candidate
    space pruned by the sound size filter (no false negatives:
    J >= t implies min|A|,|B| >= t * max). Correctness gate for the LSH
    path; quadratic in the surviving candidates by design."""
    docs = load_table(spark, sf_dir, "documents")
    sh = spread(docs, "doc_id").select(
        "doc_id", _shingles(F.col("text")).alias("sh")
    ).withColumn("n", F.size("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.col("a.n") + F.col("b.n") - inter
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.n"), F.col("b.n"))
                >= JACCARD_T * F.greatest(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_T)
    )


ORACLE_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, {_sql_shingles()} AS sh
  FROM (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, ' ') AS toks
        FROM documents)
),
sized AS (SELECT doc_id, sh, len(sh) AS n FROM sh)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / (a.n + b.n - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM sized a JOIN sized b
  ON a.doc_id < b.doc_id
 AND least(a.n, b.n) >= {JACCARD_T} * greatest(a.n, b.n)
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / (a.n + b.n - len(list_intersect(a.sh, b.sh))) >= {JACCARD_T}
"""


#: Shingle-hash combiners: hash(3-gram) = (h1*C1 + h2*C2 + h3) % P over
#: the per-token hashes. Purely arithmetic → whole-stage codegen.
C1, C2 = 1_000_003, 10_007


def _shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, hs) rows: hashed 3-gram shingles, built without any
    higher-order function. Token md5 is evaluated once per token
    (codegen'd built-in); the 3-gram hash combines the current + two
    lead token hashes arithmetically over a per-doc window. Tail
    positions hash their 2/1-token remainder (coalesce 0), so every
    doc — even a 1-token one — has at least one shingle.

    Perf note: the HOF formulation (transform/slice/concat_ws per
    shingle) evaluates interpreted, outside codegen — measured ~50×
    slower than this window formulation at sf0.1."""
    from pyspark.sql.window import Window

    e = spread(docs, "doc_id").select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "t")
    ).select("doc_id", "pos", _h31(F.col("t")).alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    hs = (
        F.col("h") * C1
        + F.coalesce(F.lead("h", 1).over(w), F.lit(0)) * C2
        + F.coalesce(F.lead("h", 2).over(w), F.lit(0))
    ) % P
    return e.select("doc_id", hs.alias("hs"))


def _minhash_signatures(docs: DataFrame) -> DataFrame:
    """32 minhash values per doc: min over shingle hashes of
    (a*hs+b) % P. 32 ``min`` aggregates over the exploded shingle rows
    — map-side combinable (each partition reduces to one partial
    signature per doc before the shuffle); duplicate shingles need no
    dedup because min is idempotent over a multiset."""
    return _shingle_hashes(docs).groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("hs") + F.lit(b)) % P).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_AB)
        ]
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: 32-hash signatures, 8 bands x 4 rows;
    candidate pairs share >= 1 band bucket; output the signature-
    estimated Jaccard (fraction of agreeing minhashes). The 100 TB
    path: signatures scan-side, one explode+shuffle on (band, key).

    Pair-dedup plan (round 14 rework, probed at K=100 on the replica
    corpus): a pair sharing k band buckets leaves the band join k
    times. The old plan deduped the WIDE scored rows — and worse,
    Catalyst pushed downstream ``est_jaccard`` filters below the
    distinct, evaluating the 32-term CASE chain once per PRE-dedup
    candidate (~40k rows per 100-deep duplicate cluster; the K=100
    probe sat >25 min in that stage). Now:

    - ``sig`` is localCheckpoint'ed once ((doc_id, 32 longs) — 264 B/
      row, bounded), so the signature pipeline (shingle window + 32
      min-aggregates) runs ONCE instead of once per self-join branch;
    - the band join carries ONLY (doc_id, band_key) — candidate rows
      are 3 longs wide, and every duplicate of a (doc_a, doc_b) pair
      lands in the SAME task (same band bucket or another bucket of
      the same pair), so the distinct's map-side partial aggregation
      collapses the k-fold duplication BEFORE the shuffle;
    - ``est_jaccard`` is computed once per DISTINCT pair by joining
      the two signatures back from the checkpointed ``sig`` —
      downstream filters now prune distinct pairs, never the k-fold
      candidate stream.

    Same relation as the oracle's SELECT DISTINCT (a pair's est is a
    function of the pair, so distinct-then-score ≡ score-then-
    distinct); the hash gate pins the equivalence."""
    docs = load_table(spark, sf_dir, "documents")
    sig = _minhash_signatures(docs).localCheckpoint()
    mh = [F.col(f"mh{i}") for i in range(NUM_HASHES)]
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(bi),
                    *mh[bi * ROWS_PER_BAND : (bi + 1) * ROWS_PER_BAND],
                )
            )
            for bi in range(BANDS)
        ]
    )
    keys = sig.select("doc_id", F.explode(band_keys).alias("band_key"))
    a, b = keys.alias("a"), keys.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
    )
    est = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    ).cast("double") / NUM_HASHES
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
    )


def _minhash_banded_ctes() -> str:
    """The shared CTE chain ending in ``exploded`` — one row per
    (doc_id, band_key) with the mh columns along — composed by the
    pair/clustering oracles and the novelty-check oracle."""
    mins = ",\n         ".join(
        f"list_min([({a} * h + {b}) % {P} FOR h IN hs]) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    bands = ",\n    ".join(
        "md5(concat_ws(',', {}))".format(
            ", ".join(
                [str(bi)]
                + [f"mh{j}" for j in range(bi * ROWS_PER_BAND, (bi + 1) * ROWS_PER_BAND)]
            )
        )
        + f" AS bk{bi}"
        for bi in range(BANDS)
    )
    est = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(NUM_HASHES)
    )
    return f"""th AS (
  SELECT doc_id, [{_sql_h31('t')} FOR t IN toks] AS th
  FROM (SELECT doc_id, regexp_split_to_array({_SQL_NORM}, ' ') AS toks
        FROM documents)
),
hashed AS (
  SELECT doc_id,
         [(th[i] * {C1} + coalesce(th[i + 1], 0) * {C2}
           + coalesce(th[i + 2], 0)) % {P}
          FOR i IN range(1, len(th) + 1)] AS hs
  FROM th
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hashed
),
banded AS (
  SELECT *,
    {bands}
  FROM sig
),
exploded AS (
  SELECT doc_id, {", ".join(f"mh{i}" for i in range(NUM_HASHES))},
         unnest([{", ".join(f"bk{b}" for b in range(BANDS))}]) AS band_key
  FROM banded
)"""


def _minhash_pair_ctes() -> str:
    """The banded chain plus the ``pairs`` relation
    (doc_a, doc_b, est_jaccard) — composed by both the pair oracle and
    the clustering oracle."""
    est = " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(NUM_HASHES)
    )
    return f"""{_minhash_banded_ctes()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(({est}) AS DOUBLE) / {NUM_HASHES} AS est_jaccard
  FROM exploded a JOIN exploded b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""


def _oracle_minhash() -> str:
    return f"""
WITH {_minhash_pair_ctes()}
SELECT doc_a, doc_b, est_jaccard FROM pairs
"""


SIMHASH_BITS = 32


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per doc over token occurrences (+1/-1 per bit,
    sign of the sum), plus the high-16-bit bucket used as the blocking
    key at scale (near-dups agree on most bits, so they collide)."""
    docs = load_table(spark, sf_dir, "documents")
    # explode + hash once + 32 sum aggregates (same codegen-blowup
    # avoidance as _minhash_signatures; map-side combinable).
    hashed = spread(docs, "doc_id").select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("t")
    ).select("doc_id", _h31(F.col("t")).alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    bit_cols = [
        F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("bigint")).otherwise(0)
        for b in range(SIMHASH_BITS)
    ]
    simhash = sum(bit_cols[1:], bit_cols[0]).alias("simhash")
    return votes.select("doc_id", simhash).select(
        "doc_id",
        "simhash",
        F.shiftright("simhash", SIMHASH_BITS - 16).alias("bucket16"),
    )


def _oracle_simhash() -> str:
    votes = ",\n         ".join(
        f"list_sum([CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs])"
        f" AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sim = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array({_SQL_NORM}, ' ') AS toks FROM documents
),
hashed AS (
  SELECT doc_id, [{_sql_h31('t')} FOR t IN toks] AS hs FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed
),
sims AS (
  SELECT doc_id, ({sim}) AS simhash FROM votes
)
SELECT doc_id, simhash, simhash >> {SIMHASH_BITS - 16} AS bucket16
FROM sims
"""


CLUSTER_T = 0.5


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH
    pair graph (est_jaccard >= CLUSTER_T), every document mapped to its
    component's minimum doc_id — the step a corpus pipeline runs after
    pair generation to pick one canonical doc per duplicate group
    (pairs alone can't: near-dup is not transitive-closed).

    Algorithm: operators/graph.py::connected_components (min-label
    propagation to fixpoint, one shuffle per round, rounds = component
    diameter — 2-3 for dup clusters in practice). Deterministic: the
    fixpoint is exactly the transitive closure the oracle's recursive
    CTE computes, whatever the execution order."""
    from pyspark.sql.window import Window

    from flink_cep_examples_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup_minhash_lsh(spark, sf_dir).filter(
        F.col("est_jaccard") >= CLUSTER_T
    )
    comp = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    allc = docs.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    return allc.withColumn(
        "n_members",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    )


def _oracle_clusters() -> str:
    """Transitive closure via recursive CTE: reach(id, r) = node r
    reaches id over the symmetric edge set; cluster = MIN(r)."""
    return f"""
WITH RECURSIVE {_minhash_pair_ctes()},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE est_jaccard >= {CLUSTER_T}
),
ud AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM ud
  UNION
  SELECT ud.b, reach.r FROM reach JOIN ud ON ud.a = reach.id
),
comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
allc AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
FROM allc
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup with a KEEP-BEST policy (round 12): instead of
    keeping an arbitrary canonical doc per duplicate cluster, keep the
    highest-QUALITY member — the policy a training-data pipeline
    actually wants (dropping the cleanest copy of a near-dup group
    loses signal for free). Composition of two oracled components:
    the MinHash-LSH cluster map (:func:`dedup_clusters`) joined with
    the quality scores (queries/text.py::quality_columns), ranked per
    cluster by (keep-flag DESC, token count DESC, doc_id ASC) — the
    integer/boolean-exact key order, so engines cannot disagree on
    ties. Output: every doc with its cluster and a ``kept`` verdict
    (exactly one per cluster).

    Scale: adds ONE window shuffle on cluster_id to the cluster map
    (cluster count ~ docs, no skew beyond the duplicate-group sizes
    the LSH band join already bounds); quality exprs are scan-side
    codegen. Reference scope: extension (the reference has no corpus
    operators); north-star dedup family."""
    from pyspark.sql.window import Window

    from flink_cep_examples_spark.queries.text import quality_columns

    clusters = dedup_clusters(spark, sf_dir)
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    q = quality_columns(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.coalesce(q["n_tokens"], F.lit(0)).alias("n_tokens"),
        F.coalesce(q["keep"].cast("boolean"), F.lit(False)).alias("q_keep"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("q_keep").desc(), F.col("n_tokens").desc(), F.col("doc_id")
    )
    return (
        clusters.join(scored, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (F.col("rk") == 1).alias("kept"),
        )
    )


def _oracle_keep_best() -> str:
    """The cluster closure (``_oracle_clusters`` CTEs) joined with the
    ``ORACLE_QUALITY`` scoring expressions, ranked by the same exact
    key."""
    from flink_cep_examples_spark.queries.text import LANG_STOPWORDS  # noqa: F401

    return rf"""
WITH RECURSIVE {_minhash_pair_ctes()},
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs WHERE est_jaccard >= {CLUSTER_T}
),
ud AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
reach(id, r) AS (
  SELECT DISTINCT a, a FROM ud
  UNION
  SELECT ud.b, reach.r FROM reach JOIN ud ON ud.a = reach.id
),
comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
allc AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
mem AS (
  SELECT doc_id, cluster_id,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM allc
),
q AS (
  SELECT doc_id,
         COALESCE(array_length(regexp_split_to_array(trim(text), '\s+')),
                  0) AS n_tokens,
         len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         len(regexp_extract_all(text, '[0-9]')) AS n_digit,
         length(text) AS n
  FROM documents
),
qk AS (
  SELECT doc_id, n_tokens,
         COALESCE(n_tokens >= 10 AND CAST(n_punct AS DOUBLE) / n < 0.1
                  AND CAST(n_digit AS DOUBLE) / n < 0.2, FALSE) AS q_keep
  FROM q
),
r AS (
  SELECT m.doc_id, m.cluster_id, m.n_members, qk.n_tokens,
         ROW_NUMBER() OVER (
           PARTITION BY m.cluster_id
           ORDER BY qk.q_keep DESC, qk.n_tokens DESC, m.doc_id ASC
         ) AS rk
  FROM mem m JOIN qk USING (doc_id)
)
SELECT doc_id, cluster_id, CAST(n_members AS BIGINT) AS n_members,
       CAST(n_tokens AS BIGINT) AS n_tokens, (rk = 1) AS kept
FROM r
"""


#: cluster-map partition fan-out — enough buckets that a per-cluster
#: lookup prunes to 1/64 of the files, few enough that sf-scale writes
#: don't produce tiny files. At 100 TB this is a tunable like IVF's
#: K_LISTS; pinned for the oracle-gated catalog query.
N_CLUSTER_BUCKETS = 64


def write_dedup_cluster_map(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Train-once/serve-many near-dup CLUSTER MAP (round 13 — the
    ``write_bm25_index``/``write_ivf_index`` persisted pattern for the
    dedup family, VERDICT r12 item 5): the expensive MinHash-LSH +
    connected-components pipeline runs ONCE and persists
    ``(doc_id, cluster_id, n_members, n_tokens, q_keep)`` partitioned
    by a hash bucket of ``cluster_id``. Serving a dedup POLICY
    (keep-best, keep-first, sample-per-cluster …) is then a scan of
    the map plus one window — no shingling, no band join, no text
    column read at serve time; per-cluster lookups prune to their
    bucket's files (PartitionFilters). Quality features are scored
    once here (scan-side codegen over the text) so policy serving
    never touches the corpus text again."""
    from flink_cep_examples_spark.queries.text import quality_columns

    clusters = dedup_clusters(spark, sf_dir)
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    q = quality_columns(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.coalesce(q["n_tokens"], F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce(q["keep"].cast("boolean"), F.lit(False)).alias("q_keep"),
    )
    (
        clusters.join(scored, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            F.col("n_members").cast("bigint").alias("n_members"),
            "n_tokens",
            "q_keep",
            F.pmod(F.xxhash64("cluster_id"), F.lit(N_CLUSTER_BUCKETS))
            .cast("int")
            .alias("cluster_bucket"),
        )
        .write.mode("overwrite")
        .partitionBy("cluster_bucket")
        .parquet(f"{index_dir}/cluster_map")
    )


def keep_best_from_map(spark: SparkSession, index_dir: str) -> DataFrame:
    """Serve the keep-best policy off the persisted cluster map: one
    window over the map, zero LSH/text work (the plan reads only
    ``{index_dir}/cluster_map`` — plan-audited in tests/test_plans.py).
    Same output contract as :func:`dedup_keep_best`."""
    from pyspark.sql.window import Window

    m = spark.read.parquet(f"{index_dir}/cluster_map")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("q_keep").desc(), F.col("n_tokens").desc(), F.col("doc_id")
    )
    return (
        m.withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "n_members",
            "n_tokens",
            (F.col("rk") == 1).alias("kept"),
        )
    )


def dedup_keep_best_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog twin of ``dedup_keep_best`` through the PERSISTED
    cluster map (idempotent per sf): identical cluster closure,
    scoring, and rank key, so the SAME DuckDB oracle pins it — but the
    serve plan is one window over the pre-computed map (no MinHash,
    no band join, no documents scan at serve time)."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    index_dir = f"{tempfile.gettempdir()}/spark_graft_dedup_map_{tag}"
    write_dedup_cluster_map(spark, sf_dir, index_dir)
    return keep_best_from_map(spark, index_dir)


register("dedup_exact", dedup_exact, ORACLE_EXACT, driver=False,  # r4 rotation: driver-verified green in r2+r3; pytest-gated now
)
register("dedup_clusters", dedup_clusters, _oracle_clusters(), driver=False)
register(
    "dedup_keep_best",
    dedup_keep_best,
    _oracle_keep_best(),
    # r13 rotation: promoted into the driver gate (never verified)
    driver=True,
)
register(
    "dedup_keep_best_persisted",
    dedup_keep_best_persisted,
    _oracle_keep_best(),
    # round 13: train-once/serve-many cluster map (VERDICT r12 item 5)
    # — straight into the driver gate
)
register(
    "dedup_ngram_jaccard", dedup_ngram_jaccard, ORACLE_JACCARD,
    driver=False,  # r5 rotation: driver-verified green r3+r4; pytest-gated now
)
register(
    "dedup_minhash_lsh", dedup_minhash_lsh, _oracle_minhash(),
    driver=False,  # r4.2 rotation: driver-verified green in r2+r3; pytest-gated
)
#: deterministic "arriving" slice for the novelty check: 5% of docs
#: play the ingest batch, the rest the frozen corpus
NOVELTY_MOD, NOVELTY_RESIDUE = 20, 3
_NMIX, _NMOD = 2654435761, 1 << 32


def docs_novelty_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: frozen-corpus novelty check as an oracled catalog
    query — "is this arriving doc an LSH near-dup candidate of
    anything the corpus already holds?" (the batch twin of
    streaming/dedup_stream.py::novelty_check_stream, which serves the
    same question off a persisted band index at ingest). A
    deterministic 5% hash slice plays the arriving batch; one row per
    FLAGGED arriving doc with its collided-band count and the
    smallest colliding corpus doc. Band keys are the md5-mode MinHash
    bands the dedup oracles pin bit-exactly.

    Scale shape: signatures are map-side-combinable min aggregates;
    the index side reduces to one row per distinct (band_key) BEFORE
    the join (min owner, never the member list); the join ships
    32-byte keys, fan-out bounded by bucket size. The arriving side
    is ingest-batch-sized by definition."""
    docs = load_table(spark, sf_dir, "documents")
    sig = _minhash_signatures(docs)
    mh = [F.col(f"mh{i}") for i in range(NUM_HASHES)]
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(bi),
                    *mh[bi * ROWS_PER_BAND : (bi + 1) * ROWS_PER_BAND],
                )
            )
            for bi in range(BANDS)
        ]
    )
    exploded = sig.select(
        "doc_id", F.explode(band_keys).alias("band_key")
    )
    arriving_pred = (
        (F.col("doc_id") * F.lit(_NMIX)) % F.lit(_NMOD) % NOVELTY_MOD
        == NOVELTY_RESIDUE
    )
    index = (
        exploded.filter(~arriving_pred)
        .groupBy("band_key")
        .agg(F.min("doc_id").alias("owner_id"))
    )
    return (
        exploded.filter(arriving_pred)
        .join(index, "band_key")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("band_key").alias("n_bands_hit"),
            F.min("owner_id").alias("owner_id"),
        )
    )


def _oracle_novelty() -> str:
    return f"""
WITH {_minhash_banded_ctes()},
idx AS (
  SELECT band_key, MIN(doc_id) AS owner_id
  FROM exploded
  WHERE (doc_id * {_NMIX}) % {_NMOD} % {NOVELTY_MOD} != {NOVELTY_RESIDUE}
  GROUP BY band_key
)
SELECT e.doc_id,
       COUNT(DISTINCT e.band_key) AS n_bands_hit,
       MIN(idx.owner_id) AS owner_id
FROM exploded e JOIN idx USING (band_key)
WHERE (e.doc_id * {_NMIX}) % {_NMOD} % {NOVELTY_MOD} = {NOVELTY_RESIDUE}
GROUP BY e.doc_id
"""


register(
    "docs_novelty_check",
    docs_novelty_check,
    _oracle_novelty(),
    # r14 rotation: promoted into the driver gate (never-verified pool)
    driver=True,
)


register("dedup_simhash", dedup_simhash, _oracle_simhash(), driver=False,  # r4 rotation: driver-verified green in r2+r3; pytest-gated now
)


# ---------------------------------------------------------------------------
# Round 5: xxhash64 signature mode — the DEPLOYMENT-DEFAULT band keys.
# The md5/`conv` arithmetic above exists for DuckDB oracle byte-parity;
# its streaming twin needs per-token Python md5 (memoized, ~4.2k
# docs/s/stream — an ingest bottleneck). This mode keeps the identical
# MinHash/banding STRUCTURE (same P, C1/C2 shingle combine, same
# MINHASH_AB, 8x4 bands) but hashes tokens with Spark's built-in
# xxhash64 — pure JVM expressions end-to-end, usable scan-side in BOTH
# batch and Structured Streaming with bit-identical keys (agreement-
# tested), no Python in the hot path. DuckDB cannot evaluate xxhash64,
# so this mode is pytest-gated (planted-dup recall + stream/batch
# agreement) rather than oracle-gated — the md5 catalog queries remain
# the oracle surface.
# ---------------------------------------------------------------------------


#: Wrapping band-key fold multiplier (Knuth's 64-bit LCG constant):
#: band_key = fold over the band's 4 minhashes of acc*K + mh, seeded
#: acc = band_index + 1, in uint64 wrap-around arithmetic.
_XFOLD = 6364136223846793005

#: Token-hash polynomial base for the vector signature mode: the hash
#: of a token is the base-R polynomial over its first 16 ASCII bytes,
#: mod P — fully vectorizable as one (n_tokens, 16) @ (16,) int64
#: matmul. Truncation at 16 bytes only merges rare long tokens, which
#: is harmless for LSH bucketing.
_VR = 257
_VW = 16


def vector_band_keys_kernel():
    """Vectorized Arrow kernel for the "vector" signature mode:
    Series[normalized text] → Series[array<int64> 8 band keys].

    The raw text ships through Arrow (one string per doc); inside the
    kernel, normalization is C-level ``bytes.translate`` (uppercase →
    lowercase, every byte outside [a-z0-9 ] deleted — the same
    character policy as _norm_text) + ``bytes.split`` (which also
    collapses space runs), and ALL hashing runs as flat numpy over the
    concatenated batch — no per-token Python, no per-document numeric
    loops. Two JVM-side alternatives were measured slower end-to-end:
    the _norm_text regexp_replace pipeline alone costs ~4 s per 50k
    docs (Java regex dominates; a trivial UDF on raw text runs 133k
    docs/s vs 11k with the JVM norm in front), and per-token xxhash64
    inside ``transform`` evaluates interpreted (~10k docs/s).

    - token hash: bytes-as-(n, 16) uint8 matrix @ powers-of-R vector,
      mod P (one matmul for the whole batch);
    - 3-gram shingle combine with the SAME C1/C2/zero-pad convention
      as the md5 pipeline's _shingle_hashes;
    - 32 permutation minima via ``np.minimum.reduceat`` on per-doc
      segment starts;
    - band keys: uint64 wrapping fold of each band's 4 minima.

    Design note: two slower formulations were measured first — the
    per-token Python md5 kernel (~4.2k docs/s, kept as the "md5"
    oracle-parity mode) and a pure Spark-expression HOF pipeline
    (~10-11k docs/s even with the interpreted array passes bound via
    transform-barriers; xxhash64-per-token inside ``transform`` is
    interpreted, not codegen). This kernel hits the Arrow sweet spot:
    ~100k+ docs/s/batch of pure C arithmetic."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # bytes.translate table: A-Z -> a-z; delete everything outside
    # [a-z0-9 ] (the _norm_text character policy, applied in C)
    table = bytes(
        (b + 32) if 65 <= b <= 90 else b for b in range(256)
    )
    keep = set(range(97, 123)) | set(range(48, 58)) | {32, *range(65, 91)}
    delete = bytes(b for b in range(256) if b not in keep)

    A = np.array([a for a, _ in MINHASH_AB], dtype=np.int64)
    B = np.array([b for _, b in MINHASH_AB], dtype=np.int64)
    K = np.uint64(_XFOLD)
    powers = np.array(
        [pow(_VR, i, P) for i in range(_VW)], dtype=np.int64
    )

    from itertools import chain

    @pandas_udf("array<long>")
    def band_keys(texts: pd.Series) -> pd.Series:
        n_docs = len(texts)
        if n_docs == 0:
            return pd.Series([], dtype=object)
        tok_lists = [
            (t or "").encode("utf-8", "ignore")
            .translate(table, delete)
            .split()
            or [b""]
            for t in texts
        ]
        lens = np.fromiter(
            (len(x) for x in tok_lists), np.int64, count=n_docs
        )
        # token hash: fixed-width byte matrix, one matmul for the batch
        bmat = (
            np.fromiter(
                chain.from_iterable(tok_lists),
                dtype=f"S{_VW}",
                count=int(lens.sum()),
            )
            .view(np.uint8)
            .reshape(-1, _VW)
            .astype(np.int64)
        )
        h = (bmat @ powers) % P
        starts = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        ends = starts + lens - 1
        # within-doc next / next-next token hash, zero-padded at doc end
        h1 = np.empty_like(h)
        h1[:-1] = h[1:]
        h1[ends] = 0
        h2 = np.empty_like(h)
        if len(h) >= 2:
            h2[:-2] = h[2:]
        h2[ends] = 0
        h2[np.maximum(ends - 1, starts)] = 0
        hs = (h * C1 + h1 * C2 + h2) % P
        mins = np.empty((NUM_HASHES, n_docs), dtype=np.uint64)
        for j in range(NUM_HASHES):
            mins[j] = np.minimum.reduceat((A[j] * hs + B[j]) % P, starts)
        out = np.empty((BANDS, n_docs), dtype=np.uint64)
        for bi in range(BANDS):
            acc = np.full(n_docs, bi + 1, dtype=np.uint64)
            for r in range(ROWS_PER_BAND):
                acc = acc * K + mins[bi * ROWS_PER_BAND + r]
            out[bi] = acc
        keys = out.T.astype(np.int64)
        return pd.Series(list(keys))

    return band_keys


def with_vector_band_keys(
    df: DataFrame, text_col: str = "text", out_col: str = "band_keys"
) -> DataFrame:
    """Append ``out_col: array<bigint>`` — the 8 LSH band keys of the
    "vector" signature mode: codegen JVM normalization feeding the
    Arrow minhash/banding kernel. Works identically on a batch or
    streaming scan (no window, no explode before the kernel); the
    shuffle that follows ships 8 longs per doc, never text."""
    kernel = vector_band_keys_kernel()
    return df.withColumn(out_col, kernel(F.col(text_col)))


#: Winnowing window: W consecutive shingle hashes per fingerprint
#: window (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms
#: for Document Fingerprinting"). Guarantees any shared run of
#: W + SHINGLE_N - 1 tokens yields a shared fingerprint, while
#: keeping density ~2/(W+1) — the standard sublinear fingerprint
#: set for corpus-scale overlap detection.
WINNOW_W = 4
_POS_BASE = 1_048_576  # pos < 2^20 packs with the 31-bit hash into int64


def docs_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 5: winnowing fingerprints — per document, the minimum
    shingle hash of every W-hash sliding window (leftmost minimum on
    ties, made total by packing ``hash * 2^20 + pos`` into one int64
    — exact in both engines), distinct per selection point.

    Scale design: everything happens inside ONE (doc_id) partitioning
    — ordered positional shingles, the rolling min, and the distinct —
    so the operator is a single Exchange; fingerprints per doc are
    ~2/(W+1) of the shingle count (the winnowing density bound), which
    is what makes downstream cross-doc overlap joins sublinear in
    corpus text. Portable md5-arith hashing, zero Python UDFs."""
    from pyspark.sql.window import Window

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    # one posexplode of raw tokens; the 3-gram assembles from window
    # LEADs over the SAME (doc_id, pos) partitioning the rolling min
    # uses — O(tokens) per doc, where a per-element array slice inside
    # transform() would be O(tokens²) (measured 135 s vs 9 s at the
    # 10× smoke scale)
    wo = Window.partitionBy("doc_id").orderBy("pos")
    tok_rows = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "tok")
    )
    sh = (
        tok_rows.select(
            "doc_id",
            "pos",
            F.concat_ws(
                " ",
                F.col("tok"),
                F.lead("tok", 1).over(wo),
                F.lead("tok", 2).over(wo),
            ).alias("sh"),
            F.lead("tok", 2).over(wo).alias("__t2"),
        )
        # keep complete 3-grams only, except the short-doc degenerate
        # case (< 3 tokens → one truncated shingle at pos 0, matching
        # the sequence(1, greatest(n-2, 1)) convention)
        .filter(F.col("__t2").isNotNull() | (F.col("pos") == 0))
        .select(
            "doc_id",
            "pos",
            (_h31(F.col("sh")) * _POS_BASE + F.col("pos")).alias("key"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    return (
        sh.select(
            "doc_id",
            F.min("key").over(w).alias("mk"),
            F.count("*").over(w).alias("cnt"),
        )
        .filter(F.col("cnt") == WINNOW_W)  # full windows only
        .select(
            "doc_id",
            (F.col("mk") / _POS_BASE).cast("bigint").alias("fp_hash"),
            (F.col("mk") % _POS_BASE).alias("fp_pos"),
        )
        .distinct()
    )


ORACLE_WINNOWING = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array({_SQL_NORM}, ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(toks[i:i+2], ' ') AS s
  FROM t, unnest(range(1, greatest(len(toks) - 1, 2))) AS r(i)
),
k AS (
  SELECT doc_id, pos,
         ({_sql_h31('s')} * {_POS_BASE} + pos) AS key
  FROM sh
),
wnd AS (
  SELECT doc_id,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS mk,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS cnt
  FROM k
)
SELECT DISTINCT doc_id,
       mk // {_POS_BASE} AS fp_hash,
       mk % {_POS_BASE} AS fp_pos
FROM wnd
WHERE cnt = {WINNOW_W}
"""


register(
    "docs_winnowing", docs_winnowing, ORACLE_WINNOWING,
    driver=False,  # r13 rotation: 7 green rounds (r6-r12); pytest-gated now
)


#: Common-phrase guard for the overlap join: a fingerprint present in
#: more than this many documents is boilerplate (fan-out F gives F²
#: pairs) and is dropped BEFORE the self-join — the standard MOSS
#: practice that bounds pair volume at corpus scale.
WINNOW_MAX_DF = 10
WINNOW_MIN_SHARED = 2


def docs_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 5: MOSS-style overlap pairs — documents sharing at least
    WINNOW_MIN_SHARED winnowing fingerprints, with boilerplate
    fingerprints (document frequency > WINNOW_MAX_DF) dropped before
    the self-join.

    Scale design: the join operand is the (doc_id, fp_hash) DISTINCT
    fingerprint set — ~2/(W+1) of the corpus shingle volume — joined
    on the 31-bit int hash (text never shuffles); the df-cap bounds
    per-hash fan-out so pair volume is at most df²·|hashes|, never
    all-pairs. The pair aggregation reuses the join's hash exchange."""
    fp = docs_winnowing(spark, sf_dir).select("doc_id", "fp_hash").distinct()
    df_ok = (
        fp.groupBy("fp_hash")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("fp_hash")
    )
    kept = fp.join(df_ok, "fp_hash")
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


ORACLE_WINNOW_OVERLAP = f"""
WITH fp0 AS ({ORACLE_WINNOWING}),
fp AS (SELECT DISTINCT doc_id, fp_hash FROM fp0),
ok AS (
  SELECT fp_hash FROM fp GROUP BY fp_hash
  HAVING COUNT(DISTINCT doc_id) <= {WINNOW_MAX_DF}
),
kept AS (SELECT fp.* FROM fp JOIN ok USING (fp_hash))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS n_shared
FROM kept a JOIN kept b
  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""


register(
    "docs_winnowing_overlap",
    docs_winnowing_overlap,
    ORACLE_WINNOW_OVERLAP,
    # r14 rotation: driver-verified green r6-r13; pytest-gated now
    driver=False,
)


# ---------------------------------------------------------------------------
# Round 6: asymmetric CONTAINMENT dedup — "doc A is (mostly) inside
# doc B" — the quote/excerpt/superset case symmetric Jaccard misses
# (a 50-token excerpt of a 5000-token article has Jaccard ~0.01 but
# containment ~1.0).
# ---------------------------------------------------------------------------

#: containment threshold: |shingles(A) ∩ shingles(B)| / |shingles(A)|
CONTAIN_T = 0.8
#: boilerplate guard for the inverted-index join (same MOSS practice
#: as WINNOW_MAX_DF): a shingle in more than this many docs is dropped
#: before the pair join, bounding per-hash fan-out
CONTAIN_MAX_DF = 10


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs: (doc_a, doc_b, containment =
    shared distinct 3-gram shingles / doc_a's distinct shingles) for
    every ordered pair with containment >= CONTAIN_T, via a shingle
    INVERTED-INDEX join (never an all-pairs array intersect).

    Scale design: the join operand is the DISTINCT (doc_id, shingle
    hash) set joined on the 31-bit int hash — text never shuffles —
    with the df <= CONTAIN_MAX_DF cap bounding fan-out exactly as the
    winnowing overlap join; pair volume is at most df² per surviving
    hash. This is the shape that finds excerpt/superset duplicates at
    corpus scale, where the Jaccard size filter (min >= t*max) would
    have pruned the pair away."""
    from pyspark.sql.window import Window

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    wo = Window.partitionBy("doc_id").orderBy("pos")
    tok_rows = docs.select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "tok")
    )
    sh = (
        tok_rows.select(
            "doc_id",
            "pos",
            F.concat_ws(
                " ",
                F.col("tok"),
                F.lead("tok", 1).over(wo),
                F.lead("tok", 2).over(wo),
            ).alias("s3"),
            F.lead("tok", 2).over(wo).alias("__t2"),
        )
        .filter(F.col("__t2").isNotNull() | (F.col("pos") == 0))
        .select("doc_id", _h31(F.col("s3")).alias("hs"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    df_ok = (
        sh.groupBy("hs")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAIN_MAX_DF)
        .select("hs")
    )
    kept = sh.join(df_ok, "hs")
    a, b = kept.alias("a"), kept.alias("b")
    shared = (
        a.join(b, "hs")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("n_sh").cast("double"))
            .alias("containment"),
        )
        .filter(F.col("containment") >= CONTAIN_T)
    )


ORACLE_CONTAINMENT = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array({_SQL_NORM}, ' ') AS toks
  FROM documents
),
s3 AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(toks[i:i+2], ' ') AS s
  FROM t, unnest(range(1, greatest(len(toks) - 1, 2))) AS r(i)
),
sh AS (
  SELECT DISTINCT doc_id, {_sql_h31('s')} AS hs FROM s3
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
ok AS (
  SELECT hs FROM sh GROUP BY hs HAVING COUNT(*) <= {CONTAIN_MAX_DF}
),
kept AS (SELECT sh.* FROM sh JOIN ok USING (hs)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM kept a JOIN kept b ON a.hs = b.hs AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.doc_a, s.doc_b, s.n_shared,
       CAST(s.n_shared AS DOUBLE) / CAST(z.n_sh AS DOUBLE) AS containment
FROM shared s JOIN sizes z ON z.doc_id = s.doc_a
WHERE CAST(s.n_shared AS DOUBLE) / CAST(z.n_sh AS DOUBLE) >= {CONTAIN_T}
"""


register(
    "dedup_containment",
    dedup_containment,
    ORACLE_CONTAINMENT,
    driver=False,  # r15 rotation: 8 green rounds (r7-r14), most-verified
    # tier — demoted for the round-14 registrations; pytest-oracled
)
