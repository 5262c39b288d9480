"""Training-corpus curation operators: deterministic stratified
sampling, a KMV distinct-count sketch, and a ROLLUP report — each with
an exactly-matching DuckDB oracle.

Determinism across engines is the design constraint here: no
``rand()``, no engine hash functions, no transcendental math. Sampling
and sketching both key off a Knuth multiplicative mixer
``(x * 2654435761) mod 2^32`` — plain BIGINT arithmetic that DuckDB and
Spark evaluate identically (products stay < 2^63), giving a uniform,
reproducible "random" that survives reruns, engine swaps, and
partitioning changes. That reproducibility is what makes a 100 TB
sample auditable: membership is a pure function of the row, so the
sample can be re-derived, diffed, and extended incrementally.

Scale notes:

- ``docs_stratified_sample`` is a pure scan+filter (no shuffle at all);
  the per-stratum rate lookup is a CASE expression, not a join.
- ``events_kmv_distinct`` shuffles one (type, hash) pair per row into a
  top-k-per-group window; with k=64 the state per group is bounded, and
  the pre-aggregation (distinct hash) is map-side combinable. This is
  the sketch pattern (KMV / bottom-k): at 100 TB you'd keep the k
  minima per partition and merge, which Spark's partial aggregation
  already does for min-k via the distinct+window composition here.
- ``orders_rollup_report`` is one shuffle; ROLLUP grand-total rows are
  computed from the same partials, and subtotal labels are coalesced to
  'ALL' so the output is null-free (cross-engine hash safety).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_cep_examples_spark.queries import register
from flink_cep_examples_spark.sources.tables import load_table, materialize

#: Knuth's multiplicative constant (2^32 / phi, odd)
_MIX = 2654435761
_MOD = 1 << 32

#: per-language keep-rate (percent); head language downsampled
_RATES = {"en": 35, "de": 80, "fr": 80, "es": 80, "zh": 80}
_DEFAULT_RATE = 50


def _mix(col):
    return (col * F.lit(_MIX)) % F.lit(_MOD)


def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sample of ``documents``:
    keep a row iff mix(doc_id) mod 100 < rate(lang). Head-language
    downsampling + tail upweighting is the standard rebalancing move
    for LLM corpora; hash-membership makes it reproducible and
    incrementally extendable (raising a rate strictly grows the
    sample)."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in _RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return docs.filter(_mix(F.col("doc_id")) % 100 < rate).select(
        "doc_id", "lang", "source", "n_chars", rate.alias("stratum_rate")
    )


#: target mixture weights (percent, sums to 100) for docs_mixture_sample
_MIX_W = {"en": 30, "de": 20, "es": 20, "fr": 15, "zh": 15}
_MIX_W_DEFAULT = 10
_PPM = 1_000_000


def docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: sample ``documents`` so the output hits a
    target per-language mixture (the data-mixing stage of a training
    pipeline — e.g. cap English at 30%). Unlike the fixed-rate
    stratified sample, the keep rates are DERIVED FROM THE DATA in a
    first aggregation pass: T = min_l floor(n_l*100/w_l) is the largest
    total the observed counts can support at the target weights,
    k_l = floor(w_l*T/100) the per-language quota, and the keep rate
    r_l = floor(k_l*1e6/n_l) ppm. Membership is then the usual
    deterministic hash threshold mix(doc_id) % 1e6 < r_l.

    Every step is int64 arithmetic (floor division), so Spark and
    DuckDB derive bit-identical rates; the ppm threshold makes the
    realized share converge to the target as n_l grows (law of large
    numbers), while membership stays a pure row function.

    Scale shape: pass 1 is a map-side-combined count (one row per
    language crosses the wire); the rate table is broadcast; pass 2 is
    scan + broadcast-join + filter — no wide shuffle anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.lit(_MIX_W_DEFAULT)
    for lang, wt in _MIX_W.items():
        w = F.when(F.col("lang") == lang, F.lit(wt)).otherwise(w)
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_lang")
    ).withColumn("w", w)
    t = counts.select(
        F.min(F.expr("n_lang * 100 div w")).alias("t_total")
    )
    rates = (
        counts.crossJoin(F.broadcast(t))
        .withColumn("k_target", F.expr("w * t_total div 100"))
        .withColumn("keep_ppm", F.expr("k_target * 1000000 div n_lang"))
        .select("lang", "n_lang", "k_target", "keep_ppm")
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(_mix(F.col("doc_id")) % _PPM < F.col("keep_ppm"))
        .select("doc_id", "lang", "source", "n_chars", "keep_ppm")
    )


ORACLE_MIXTURE = """
WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
w AS (
  SELECT lang, n_lang,
         CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 20 WHEN 'es' THEN 20
                   WHEN 'fr' THEN 15 WHEN 'zh' THEN 15 ELSE 10 END AS w
  FROM c
),
t AS (SELECT MIN(n_lang * 100 // w) AS t_total FROM w),
r AS (
  SELECT lang, n_lang, (w * t_total // 100) AS k_target,
         ((w * t_total // 100) * 1000000 // n_lang) AS keep_ppm
  FROM w, t
)
SELECT d.doc_id, d.lang, d.source, d.n_chars, r.keep_ppm
FROM documents d JOIN r USING (lang)
WHERE (d.doc_id * 2654435761) % 4294967296 % 1000000 < r.keep_ppm
"""


#: per-language share (percent) of that language's OWN token mass kept
#: by docs_token_budget_mix; head language cut hardest
_TB_PCT = {"en": 25, "zh": 70}
_TB_PCT_DEFAULT = 55
#: hash-space bucket width: 2^32 / 2^20 = 4096 buckets
_TB_BUCKET_DIV = 1 << 20
_TB_BUCKETS = _MOD // _TB_BUCKET_DIV
#: chars/4 token proxy, shared with streaming/budget_stream.py so the
#: ingest-time admission counts tokens exactly like the batch mix
TOKEN_PROXY_SQL = "(n_chars + 3) div 4"


def token_budgets(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The per-language budgets docs_token_budget_mix derives from the
    corpus (budget_l = floor(total_tokens_l * pct_l / 100)) as a plain
    dict — the config an ingest-time admission stream is handed."""
    docs = load_table(spark, sf_dir, "documents")
    rows = (
        docs.groupBy("lang")
        .agg(F.sum(F.expr(TOKEN_PROXY_SQL)).alias("ntok"))
        .collect()
    )
    return {
        r.lang: r.ntok * _TB_PCT.get(r.lang, _TB_PCT_DEFAULT) // 100
        for r in rows
    }


def docs_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture assembly (round 13): select documents per
    language, in deterministic hash order, until a per-language TOKEN
    budget is filled — the unit real training mixes are specified in
    ("x billion tokens of web, y of code"), as opposed to
    ``docs_mixture_sample``'s document-count rates. A doc is kept iff
    the token mass of the docs ordered before it (by
    ``mix(doc_id)``, doc_id tiebreak) is still below the budget, so
    the budget is met exactly or overshot by at most one document,
    and membership is a pure function of the corpus — reproducible,
    auditable, and stable under partitioning. Tokens are the chars/4
    proxy ``(n_chars + 3) div 4`` (the standard bytes-per-token
    heuristic), keeping the query about budget mechanics.

    Budgets are data-derived like the mixture rates: budget_l =
    floor(total_tokens_l * pct_l / 100), so a boundary exists at
    every scale factor.

    Scale design — the naive form is one global per-language sort
    (window cumsum over the whole corpus). Instead the hash space is
    cut into 4096 buckets (bucket = h div 2^20, monotone in h, so
    bucket order refines hash order): pass 1 aggregates token mass
    per (lang, bucket) — map-side combinable, ≤4096 rows per
    language out — and a window over that TINY table finds each
    bucket's preceding mass; buckets that fit entirely under the
    budget are kept whole via a broadcast semi-join, and ONLY the
    single boundary bucket per language (~1/4096 of the corpus) pays
    the exact per-document window. The wide shuffle is O(selected
    boundary rows), not O(corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    return token_budget_prefix(docs)


def token_budget_prefix(docs: DataFrame, budget_rule=None) -> DataFrame:
    """The bucket-prefiltered minimal-prefix selection over any
    (doc_id, lang, n_chars) DataFrame — shared by the catalog query
    and the composed ingest-pipeline query, which runs it over the
    decontaminated + quality-gated survivors.

    ``budget_rule``: optional callable mapping the per-language token
    totals frame (lang, ntok) to a (lang, budget) frame — how
    ``docs_temperature_mix`` swaps the per-language-percent budgets
    for temperature-smoothed ones while reusing the whole selection
    machinery. Default: budget_l = ntok_l × pct_l div 100."""
    pct = F.lit(_TB_PCT_DEFAULT)
    for lang, p in _TB_PCT.items():
        pct = F.when(F.col("lang") == lang, F.lit(p)).otherwise(pct)
    d = docs.select(
        "doc_id",
        "lang",
        F.expr(TOKEN_PROXY_SQL).alias("tok"),
        _mix(F.col("doc_id")).alias("h"),
    ).withColumn("b", F.expr(f"h div {_TB_BUCKET_DIV}"))
    bstats = d.groupBy("lang", "b").agg(F.sum("tok").alias("btok"))
    wlang = (
        Window.partitionBy("lang")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ntok = bstats.groupBy("lang").agg(F.sum("btok").alias("ntok"))
    if budget_rule is not None:
        budget = budget_rule(ntok)
    else:
        budget = ntok.withColumn("pct", pct).withColumn(
            "budget", F.expr("ntok * pct div 100")
        )
    live = (
        bstats.withColumn(
            "cum_before", F.coalesce(F.sum("btok").over(wlang), F.lit(0))
        )
        .join(budget.select("lang", "budget"), "lang")
        .filter(F.col("cum_before") < F.col("budget"))
        .select(
            "lang",
            "b",
            (F.col("cum_before") + F.col("btok") <= F.col("budget")).alias(
                "whole"
            ),
            (F.col("budget") - F.col("cum_before")).alias("rem"),
        )
    )
    # materialize the live-bucket table through the driver — BOUNDED by
    # construction (≤4096 buckets × #languages, whatever the corpus
    # size). This is correctness, not just hygiene: `live` shares
    # lineage with `d`, and Spark's ambiguous-self-join resolution
    # silently DROPPED upstream join filters on one branch when the
    # input was itself a join (the composed ingest pipeline emitted a
    # doc not in its own input — caught by the composition oracle).
    # A fresh literal DataFrame cannot alias anything in `d`.
    spark = docs.sparkSession
    live_df = spark.createDataFrame(
        live.collect(), "lang string, b bigint, whole boolean, rem bigint"
    )
    joined = d.join(F.broadcast(live_df), ["lang", "b"])
    kept_whole = joined.filter("whole")
    wbucket = (
        Window.partitionBy("lang", "b")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept_boundary = (
        joined.filter(~F.col("whole"))
        .withColumn(
            "cum_in", F.coalesce(F.sum("tok").over(wbucket), F.lit(0))
        )
        .filter(F.col("cum_in") < F.col("rem"))
    )
    cols = ["doc_id", "lang", "tok"]
    return kept_whole.select(*cols).unionByName(kept_boundary.select(*cols))


ORACLE_TOKEN_BUDGET = f"""
WITH d AS (
  SELECT doc_id, lang, (n_chars + 3) // 4 AS tok,
         (doc_id * {_MIX}) % {_MOD} AS h
  FROM documents
),
bgt AS (
  SELECT lang,
         (SUM(tok) * CASE lang WHEN 'en' THEN {_TB_PCT['en']}
                               WHEN 'zh' THEN {_TB_PCT['zh']}
                               ELSE {_TB_PCT_DEFAULT} END) // 100 AS budget
  FROM d GROUP BY lang
),
c AS (
  SELECT d.doc_id, d.lang, d.tok, bgt.budget,
         COALESCE(SUM(d.tok) OVER (
           PARTITION BY d.lang ORDER BY d.h, d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM d JOIN bgt USING (lang)
)
SELECT doc_id, lang, tok FROM c WHERE cum_before < budget
"""


ORACLE_SAMPLE = """
SELECT doc_id, lang, source, n_chars,
       CASE lang WHEN 'en' THEN 35 WHEN 'de' THEN 80 WHEN 'fr' THEN 80
                 WHEN 'es' THEN 80 WHEN 'zh' THEN 80 ELSE 50 END
         AS stratum_rate
FROM documents
WHERE (doc_id * 2654435761) % 4294967296 % 100 <
      CASE lang WHEN 'en' THEN 35 WHEN 'de' THEN 80 WHEN 'fr' THEN 80
                WHEN 'es' THEN 80 WHEN 'zh' THEN 80 ELSE 50 END
"""


def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct-count sketch: per event_type, keep the
    k=64 smallest mixed user hashes; estimate distinct users as
    (k-1) * 2^32 / kth_min. Emits estimate alongside the kth-min hash
    (the sketch's whole state is the k minima, mergeable by min-k
    union). Exact same integers + one IEEE multiply/divide in both
    engines -> bit-identical estimates."""
    k = 64
    ev = load_table(spark, sf_dir, "events")
    hashed = (
        ev.select("event_type", _mix(F.col("user_id")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashed.withColumn("rk", F.row_number().over(w))
    kth = ranked.filter(F.col("rk") <= k).groupBy("event_type").agg(
        F.max("h").alias("kth_min"), F.count(F.lit(1)).alias("n_kept")
    )
    return kth.select(
        "event_type",
        "kth_min",
        "n_kept",
        F.when(
            F.col("n_kept") < k, F.col("n_kept").cast("double")
        )
        .otherwise(
            (F.lit(float(k - 1)) * F.lit(float(_MOD))) / F.col("kth_min")
        )
        .alias("est_distinct"),
    )


ORACLE_KMV = """
WITH hashed AS (
  SELECT DISTINCT event_type, (user_id * 2654435761) % 4294967296 AS h
  FROM events
), ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM hashed
), kth AS (
  SELECT event_type, MAX(h) AS kth_min, COUNT(*) AS n_kept
  FROM ranked WHERE rk <= 64 GROUP BY event_type
)
SELECT event_type, kth_min, n_kept,
       CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
            ELSE (CAST(63 AS DOUBLE) * CAST(4294967296 AS DOUBLE))
                 / CAST(kth_min AS DOUBLE) END AS est_distinct
FROM kth
"""


def orders_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(priority, status): order counts and exact-decimal revenue
    at detail, per-priority subtotal, and grand-total levels. Subtotal
    grouping nulls are projected to 'ALL' (null-free output)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(24,4)"))
            .cast("double")
            .alias("revenue"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "revenue",
        )
    )


ORACLE_ROLLUP = """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(24,4))) AS DOUBLE) AS revenue
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


#: quality-weighted sampling constants: saturation half-point (tokens)
#: and the hard-penalty divisors for digit-/punct-heavy docs
_QW_C = 50
_QW_PPM = 1_000_000


def docs_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED deterministic sampling (round 12): instead of
    the binary keep-flag cliff, each doc gets a keep PROBABILITY from
    a soft quality curve — the "soft filtering" move public LLM
    pipelines use so borderline docs are downweighted, not discarded.
    Keep rate (ppm) = saturating length curve
    ``1e6·n_tokens ÷ (n_tokens + C)`` (longer docs asymptote to 1),
    cut ÷4 for digit-heavy docs (n_digit·5 ≥ len) and ÷2 for
    punct-heavy docs (n_punct·10 ≥ len). EVERY step is int64 floor
    arithmetic and membership is the portable multiplicative-hash
    threshold ``mix(doc_id) % 1e6 < rate`` — Spark and DuckDB derive
    bit-identical samples, and raising a rate strictly grows the
    sample (incremental reprocessing).

    Scale shape: scan + filter, zero Exchange — the regex counts and
    the hash threshold are all codegen row functions."""
    from flink_cep_examples_spark.queries.text import _PUNCT, _tok_count

    docs = load_table(spark, sf_dir, "documents")
    nt = F.greatest(_tok_count(F.col("text")).cast("bigint"), F.lit(1))
    n_punct = F.regexp_count(F.col("text"), F.lit(_PUNCT)).cast("bigint")
    n_digit = F.regexp_count(F.col("text"), F.lit(r"[0-9]")).cast("bigint")
    n = F.length("text").cast("bigint")
    base = f"div({_QW_PPM} * __qw_nt, __qw_nt + {_QW_C})"
    cut4 = (
        f"CASE WHEN __qw_nd * 5 >= __qw_n THEN div({base}, 4) "
        f"ELSE {base} END"
    )
    rate = F.expr(
        f"CASE WHEN __qw_np * 10 >= __qw_n THEN div({cut4}, 2) "
        f"ELSE {cut4} END"
    )
    scored = (
        docs.withColumn("__qw_nt", nt)
        .withColumn("__qw_np", n_punct)
        .withColumn("__qw_nd", n_digit)
        .withColumn("__qw_n", n)
        .withColumn("rate_ppm", rate.cast("bigint"))
    )
    return scored.filter(
        _mix(F.col("doc_id")) % _QW_PPM < F.col("rate_ppm")
    ).select(
        "doc_id",
        "lang",
        "source",
        F.col("__qw_nt").alias("n_tokens"),
        "rate_ppm",
    )


ORACLE_QW_SAMPLE = rf"""
WITH s AS (
  SELECT doc_id, lang, source,
         GREATEST(CAST(array_length(
           regexp_split_to_array(trim(text), '\s+')) AS BIGINT), 1)
           AS n_tokens,
         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
           AS n_punct,
         CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
           AS n_digit,
         CAST(length(text) AS BIGINT) AS n
  FROM documents
),
r AS (
  SELECT doc_id, lang, source, n_tokens,
         CASE WHEN n_punct * 10 >= n THEN
           (CASE WHEN n_digit * 5 >= n
                 THEN ({_QW_PPM} * n_tokens) // (n_tokens + {_QW_C}) // 4
                 ELSE ({_QW_PPM} * n_tokens) // (n_tokens + {_QW_C}) END) // 2
         ELSE
           (CASE WHEN n_digit * 5 >= n
                 THEN ({_QW_PPM} * n_tokens) // (n_tokens + {_QW_C}) // 4
                 ELSE ({_QW_PPM} * n_tokens) // (n_tokens + {_QW_C}) END)
         END AS rate_ppm
  FROM s
)
SELECT doc_id, lang, source, n_tokens, rate_ppm
FROM r
WHERE (doc_id * {_MIX}) % {_MOD} % {_QW_PPM} < rate_ppm
"""


register("docs_stratified_sample", docs_stratified_sample, ORACLE_SAMPLE, driver=False,  # r5.2 rotation: driver-verified green r3+r4; pytest-gated now
)
register(
    "docs_quality_weighted_sample",
    docs_quality_weighted_sample,
    ORACLE_QW_SAMPLE,
    # r13 rotation: promoted into the driver gate (never verified)
    driver=True,
)
register("docs_mixture_sample", docs_mixture_sample, ORACLE_MIXTURE, driver=False,  # r7 rotation: driver-verified green r3-r6; pytest-gated now
)
register(
    "docs_token_budget_mix",
    docs_token_budget_mix,
    ORACLE_TOKEN_BUDGET,
    # r14 rotation: promoted into the driver gate (never-verified pool)
    driver=True,
)
register("events_kmv_distinct", events_kmv_distinct, ORACLE_KMV, driver=False,  # r5.2 rotation: driver-verified green r3+r4; pytest-gated now
)
register("orders_rollup_report", orders_rollup_report, ORACLE_ROLLUP, driver=False,  # r7 rotation: driver-verified green r3-r6; pytest-gated now
)


# ---------------------------------------------------------------------------
# Round 6: HyperLogLog distinct sketch — the industry-standard
# distinct-count sketch alongside the KMV/bottom-k one above, built
# bit-deterministic across engines.
# ---------------------------------------------------------------------------

#: HLL precision: m = 2^p buckets. Standard error ~1.04/sqrt(m) = 6.5%.
_HLL_P = 8
_HLL_M = 1 << _HLL_P
#: low bits carrying the rank pattern (32 - p)
_HLL_WBITS = 32 - _HLL_P
#: rho ranges 1.._HLL_WBITS+1; the harmonic term 2^-rho is scaled by
#: 2^(WBITS+1) so the per-type denominator sums in EXACT BIGINT
#: arithmetic (order-free — the r5 float-summation lesson)
_HLL_Q = _HLL_WBITS + 1
#: alpha_m * m^2 * 2^Q as ONE double literal shared verbatim by both
#: engines, so the raw estimate is a single identical IEEE division.
#: EXPONENT format ('%.17e'): DuckDB parses a plain decimal literal as
#: DECIMAL and its wide DECIMAL->DOUBLE cast can round incorrectly
#: (the r5 q1/q19 postmortem); an exponent literal parses as DOUBLE
#: directly, and 17 significant digits round-trip the exact value.
_HLL_A = "%.17e" % (
    (0.7213 / (1 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * float(1 << _HLL_Q)
)
#: linear-counting lookup m*ln(m/z) for z = 1.._HLL_M-1 zero buckets,
#: precomputed HERE and pasted as the same decimal literals into both
#: the Spark plan and the DuckDB oracle — cross-engine ln() can differ
#: in the last ulp (the r5 curation postmortem), identical literals
#: cannot. z = 0 never hits this branch; z = m needs no entry (a type
#: with rows always occupies >= 1 bucket).
import math as _math

_HLL_LC = [
    _HLL_M * _math.log(_HLL_M / z) for z in range(1, _HLL_M)
]
#: second multiplicative round + high-bit feedback: Knuth's low bits
#: alone are too regular for leading-zero ranks
_MIX2 = 2246822519


def _hll_h2_sql(col: str, idiv: str = "//") -> str:
    """The full 32-bit mixer as portable integer SQL:
    h = (x*C1) mod 2^32; h2 = ((h mod 2^31)*C2 + h div 2^16) mod 2^32.
    The second round reduces h to 31 bits BEFORE the multiply so the
    product stays < 2^63 — DuckDB raises on INT64 overflow (and
    Spark's silent wrap would diverge from it). ``idiv`` is the
    engine's integer-division spelling — DuckDB ``//`` (default),
    Spark SQL ``div`` — the only syntax the two disagree on; every
    constant is shared verbatim."""
    h = f"(({col} * {_MIX}) % {_MOD})"
    return f"((({h} % {1 << 31}) * {_MIX2} + {h} {idiv} 65536) % {_MOD})"


def hll_bucket_rho_cols(col: str) -> tuple:
    """The HLL register projection as two Spark columns — (bucket,
    rho) from the 32-bit mix of ``col`` — shared by the batch query
    and the streaming operator (streaming/sketch_stream.py) so their
    registers are bit-identical by construction."""
    h2 = F.expr(_hll_h2_sql(col, idiv="div"))
    w = h2 % F.lit(1 << _HLL_WBITS)
    return (
        (h2 / F.lit(1 << _HLL_WBITS)).cast("long").alias("bucket"),
        F.when(w == 0, F.lit(_HLL_Q))
        .otherwise(F.lit(_HLL_Q) - F.length(F.bin(w)))
        .alias("rho"),
    )


def hll_estimate(registers) -> tuple[int, int, float]:
    """Finalize one m-register HLL state → (n_zero, denom_q,
    est_distinct), with EXACTLY the batch query's arithmetic: the
    harmonic denominator summed in scaled integers (order-free), one
    IEEE division by the shared alpha literal, and the shared
    linear-counting table for the small range — so a streaming
    operator folding the same registers emits bit-identical
    estimates."""
    n_zero = 0
    denom_q = 0
    for mj in registers:
        if mj == 0:
            n_zero += 1
        denom_q += 1 << (_HLL_Q - int(mj))
    raw = float(_HLL_A) / float(denom_q)
    if n_zero > 0 and raw <= 2.5 * _HLL_M:
        return n_zero, denom_q, _HLL_LC[n_zero - 1]
    return n_zero, denom_q, raw


def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event_type (Flajolet et
    al. 2007): bucket = high p bits of a 32-bit mixed hash, rho = rank
    of the first 1-bit in the remaining bits, per-bucket state = max
    rho, estimate = alpha_m * m^2 / sum(2^-rho_j) with the standard
    linear-counting small-range correction.

    Scale design (the reason this sketch exists at 100 TB): unlike
    COUNT(DISTINCT) — whose shuffle carries every distinct key — the
    HLL state is max-per-bucket, so Spark's partial aggregation
    reduces each map task to <= m rows per type before the exchange;
    the shuffle is O(types * m) regardless of corpus size, and states
    merge by bucket-wise MAX (the streaming/backfill merge property).
    No distinct, no window, no Python.

    Bit parity: rho from length(bin(w)) (identical minimal-binary
    semantics in Spark and DuckDB), the harmonic sum in scaled BIGINT
    (order-free), the alpha constant and the linear-counting ln-table
    as shared decimal literals — see the module docstring's
    no-transcendentals rule."""
    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select("event_type", *hll_bucket_rho_cols("user_id"))
    per_bucket = hashed.groupBy("event_type", "bucket").agg(
        F.max("rho").alias("mj")
    )
    agg = per_bucket.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(F.expr(f"CAST(power(2, {_HLL_Q} - mj) AS BIGINT)")).alias(
            "denom_hit"
        ),
    )
    n_zero = F.lit(_HLL_M) - F.col("n_hit")
    denom = F.col("denom_hit") + n_zero * F.lit(1 << _HLL_Q)
    raw = F.lit(float(_HLL_A)) / denom.cast("double")
    lc = F.element_at(
        F.array(*[F.lit(v) for v in _HLL_LC]),
        F.greatest(n_zero, F.lit(1)).cast("int"),
    )
    return agg.select(
        "event_type",
        n_zero.alias("n_zero"),
        denom.alias("denom_q"),
        F.when((n_zero > 0) & (raw <= F.lit(2.5 * _HLL_M)), lc)
        .otherwise(raw)
        .alias("est_distinct"),
    )


def _oracle_hll() -> str:
    # exponent-format literals parse as DOUBLE in DuckDB (plain
    # decimals would parse as DECIMAL and round-trip lossily — see
    # _HLL_A note); Spark side embeds the identical doubles via F.lit
    lc_rows = ",\n    ".join(
        "({}, {})".format(z, "%.17e" % v)
        for z, v in enumerate(_HLL_LC, start=1)
    )
    return f"""
WITH hashed AS (
  SELECT event_type,
         {_hll_h2_sql("user_id")} // {1 << _HLL_WBITS} AS bucket,
         CASE WHEN {_hll_h2_sql("user_id")} % {1 << _HLL_WBITS} = 0
              THEN {_HLL_Q}
              ELSE {_HLL_Q} - length(bin(
                   {_hll_h2_sql("user_id")} % {1 << _HLL_WBITS}))
         END AS rho
  FROM events
),
per_bucket AS (
  SELECT event_type, bucket, MAX(rho) AS mj
  FROM hashed GROUP BY event_type, bucket
),
agg AS (
  SELECT event_type, COUNT(*) AS n_hit,
         CAST(SUM(CAST(power(2, {_HLL_Q} - mj) AS BIGINT)) AS BIGINT)
           AS denom_hit
  FROM per_bucket GROUP BY event_type
),
lctab(z, v) AS (VALUES
    {lc_rows}
)
SELECT a.event_type,
       {_HLL_M} - a.n_hit AS n_zero,
       a.denom_hit + ({_HLL_M} - a.n_hit) * {1 << _HLL_Q} AS denom_q,
       CASE WHEN ({_HLL_M} - a.n_hit) > 0
             AND {_HLL_A} / CAST(a.denom_hit
                 + ({_HLL_M} - a.n_hit) * {1 << _HLL_Q} AS DOUBLE)
                 <= {2.5 * _HLL_M!r}
            THEN lc.v
            ELSE {_HLL_A} / CAST(a.denom_hit
                 + ({_HLL_M} - a.n_hit) * {1 << _HLL_Q} AS DOUBLE)
       END AS est_distinct
FROM agg a
LEFT JOIN lctab lc
  ON lc.z = CASE WHEN {_HLL_M} - a.n_hit >= 1
                 THEN {_HLL_M} - a.n_hit ELSE 1 END
"""


register(
    "events_hll_distinct",
    events_hll_distinct,
    _oracle_hll(),
    driver=False,  # r16 rotation: 9 green rounds (r7-r15), most-verified
)


# ---------------------------------------------------------------------------
# Round 6: count-min sketch — the frequency-estimation member of the
# sketch family (KMV: distinct; HLL: distinct at fixed state; CMS:
# per-item counts), built on the same cross-engine integer-arithmetic
# discipline.
# ---------------------------------------------------------------------------

#: CMS geometry: d independent hash rows × w counters. Error bound:
#: est - true <= 2N/w with prob 1 - 2^-d over the salts.
_CMS_D = 4
_CMS_W = 256
_CMS_SALTS = (11, 503, 90001, 7777)
#: top-k exact heavy hitters probed against the sketch
_CMS_TOPK = 5


def _cms_bucket_sql(col: str, idiv: str) -> str:
    """Bucket of ``col`` for hash row d (a column named ``d``): the
    Knuth mixer over the salted id, high 8 bits — a CASE over the d
    salts so the expression is portable SQL in both engines."""
    arms = " ".join(
        f"WHEN {i} THEN ((({col} + {s}) * {_MIX}) % {_MOD}) "
        f"{idiv} {1 << 24}"
        for i, s in enumerate(_CMS_SALTS)
    )
    return f"(CASE d {arms} END)"


def events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch probe: per event_type, the top-{k} exact
    heavy-hitter users (rank by count desc, user_id tiebreak) with
    their CMS estimate — ``est_cnt = min over d of counter[d][h_d(u)]``
    — alongside the true count (the sketch guarantees est >= true;
    tests pin both the bound and the bit-exact estimates).

    Scale design: the sketch build is ONE map-side-combinable
    aggregation over (type, d, bucket) — at most types × d × w = 4096
    counter rows survive each map task, so the shuffle is bounded at
    ANY corpus size and counter states MERGE BY SUM (the
    streaming/backfill property, same class as the HLL registers).
    The probe side joins k rows/type against the counter table. At
    100 TB you keep the counters and drop the raw stream; this exact
    form keeps the true counts only to make the guarantee testable."""
    ev = load_table(spark, sf_dir, "events")
    d_col = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d")
    bucket = F.expr(_cms_bucket_sql("user_id", "div"))
    counters = (
        ev.select("event_type", "user_id")
        .select("event_type", "user_id", d_col)
        .select("event_type", "d", bucket.alias("bucket"))
        .groupBy("event_type", "d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("true_cnt").desc(), "user_id"
    )
    probe = exact.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _CMS_TOPK
    )
    probed = probe.select(
        "event_type", "user_id", "true_cnt", "rnk", d_col
    ).select(
        "event_type",
        "user_id",
        "true_cnt",
        "rnk",
        "d",
        bucket.alias("bucket"),
    )
    return (
        probed.join(counters, ["event_type", "d", "bucket"])
        .groupBy("event_type", "user_id", "true_cnt", "rnk")
        .agg(F.min("c").alias("est_cnt"))
    )


def _oracle_cms() -> str:
    b = _cms_bucket_sql("user_id", "//")
    return f"""
WITH ds(d) AS (VALUES (0), (1), (2), (3)),
counters AS (
  SELECT event_type, d, {b} AS bucket, COUNT(*) AS c
  FROM events, ds GROUP BY 1, 2, 3
),
exact AS (
  SELECT event_type, user_id, COUNT(*) AS true_cnt
  FROM events GROUP BY 1, 2
),
probe AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY true_cnt DESC, user_id) AS rnk
  FROM exact
),
probed AS (
  SELECT event_type, user_id, true_cnt, rnk, d, {b} AS bucket
  FROM probe, ds WHERE rnk <= {_CMS_TOPK}
)
SELECT p.event_type, p.user_id, p.true_cnt, p.rnk,
       MIN(c.c) AS est_cnt
FROM probed p
JOIN counters c
  ON c.event_type = p.event_type AND c.d = p.d AND c.bucket = p.bucket
GROUP BY 1, 2, 3, 4
"""


register(
    "events_cms_heavy_hitters",
    events_cms_heavy_hitters,
    _oracle_cms(),
    # r7 rotation: promoted (never-driver-verified pool)
)


def events_hourly_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 6: hypertable-style SKETCH ROLLUP — per (event_type,
    hour) HLL registers rolled up to a per-type whole-corpus estimate
    by MERGING the hour sketches (bucket-wise MAX), the continuous-
    aggregate pattern a 100 TB pipeline uses: keep one tiny register
    set per (key, window), answer any coarser window by merge, never
    rescan raw data. The merged estimate is bit-identical to running
    one flat HLL over the corpus (the merge property the streaming
    operator also rides), which the oracle checks by computing BOTH
    levels from scratch.

    Output: one row per (event_type, hour) with the hour estimate,
    plus the type's merged whole-corpus estimate repeated per row
    (dtype-stable, null-free).

    Scale: level 1 is the batch HLL aggregation keyed by (type, hour,
    bucket) — map-side bounded at m rows per (type, hour); level 2
    re-aggregates the ≤ m-row register sets, never the events."""
    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        *hll_bucket_rho_cols("user_id"),
    )
    per_bucket = hashed.groupBy("event_type", "hour", "bucket").agg(
        F.max("rho").alias("mj")
    )

    def finalize(grouped, keys):
        n_zero = F.lit(_HLL_M) - F.col("n_hit")
        denom = F.col("denom_hit") + n_zero * F.lit(1 << _HLL_Q)
        raw = F.lit(float(_HLL_A)) / denom.cast("double")
        lc = F.element_at(
            F.array(*[F.lit(v) for v in _HLL_LC]),
            F.greatest(n_zero, F.lit(1)).cast("int"),
        )
        return grouped.agg(
            F.count(F.lit(1)).alias("n_hit"),
            F.sum(
                F.expr(f"CAST(power(2, {_HLL_Q} - mj) AS BIGINT)")
            ).alias("denom_hit"),
        ).select(
            *keys,
            F.when((n_zero > 0) & (raw <= F.lit(2.5 * _HLL_M)), lc)
            .otherwise(raw)
            .alias("est"),
        )

    hour_est = finalize(
        per_bucket.groupBy("event_type", "hour"), ["event_type", "hour"]
    ).withColumnRenamed("est", "est_hour")
    # rollup: merge hour registers by bucket-wise MAX, then finalize
    merged = per_bucket.groupBy("event_type", "bucket").agg(
        F.max("mj").alias("mj")
    )
    total_est = finalize(
        merged.groupBy("event_type"), ["event_type"]
    ).withColumnRenamed("est", "est_total")
    return hour_est.join(total_est, "event_type").select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "est_hour",
        "est_total",
    )


def _oracle_hourly_hll() -> str:
    lc_rows = ",\n    ".join(
        "({}, {})".format(z, "%.17e" % v)
        for z, v in enumerate(_HLL_LC, start=1)
    )
    fin = (
        "CASE WHEN ({m} - n_hit) > 0 AND {A} / CAST(denom_hit"
        " + ({m} - n_hit) * {q} AS DOUBLE) <= {cap}"
        " THEN (SELECT v FROM lctab WHERE z = CASE WHEN {m} - n_hit >= 1"
        "       THEN {m} - n_hit ELSE 1 END)"
        " ELSE {A} / CAST(denom_hit + ({m} - n_hit) * {q} AS DOUBLE) END"
    ).format(
        m=_HLL_M, A=_HLL_A, q=1 << _HLL_Q, cap=repr(2.5 * _HLL_M)
    )
    return f"""
WITH hashed AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         {_hll_h2_sql("user_id")} // {1 << _HLL_WBITS} AS bucket,
         CASE WHEN {_hll_h2_sql("user_id")} % {1 << _HLL_WBITS} = 0
              THEN {_HLL_Q}
              ELSE {_HLL_Q} - length(bin(
                   {_hll_h2_sql("user_id")} % {1 << _HLL_WBITS}))
         END AS rho
  FROM events
),
per_bucket AS (
  SELECT event_type, hour, bucket, MAX(rho) AS mj
  FROM hashed GROUP BY 1, 2, 3
),
lctab(z, v) AS (VALUES
    {lc_rows}
),
hour_agg AS (
  SELECT event_type, hour, COUNT(*) AS n_hit,
         CAST(SUM(CAST(power(2, {_HLL_Q} - mj) AS BIGINT)) AS BIGINT)
           AS denom_hit
  FROM per_bucket GROUP BY 1, 2
),
merged AS (
  SELECT event_type, bucket, MAX(mj) AS mj
  FROM per_bucket GROUP BY 1, 2
),
total_agg AS (
  SELECT event_type, COUNT(*) AS n_hit,
         CAST(SUM(CAST(power(2, {_HLL_Q} - mj) AS BIGINT)) AS BIGINT)
           AS denom_hit
  FROM merged GROUP BY 1
)
SELECT h.event_type,
       strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour,
       ({fin.replace("n_hit", "h.n_hit").replace("denom_hit", "h.denom_hit")})
         AS est_hour,
       ({fin.replace("n_hit", "t.n_hit").replace("denom_hit", "t.denom_hit")})
         AS est_total
FROM hour_agg h JOIN total_agg t USING (event_type)
"""


register(
    "events_hourly_hll",
    events_hourly_hll,
    _oracle_hourly_hll(),
    driver=False,  # r16 rotation: 9 green rounds (r7-r15), most-verified
)


# ---------------------------------------------------------------------------
# KMV set-operation sketch: cross-source Jaccard (round 7)
# ---------------------------------------------------------------------------

#: bottom-k size for the cross-source shingle sketch
KMV_J_K = 128


def sources_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-similarity matrix from KMV (bottom-k)
    shingle sketches — the SET-OPERATION member of the sketch family
    (HLL = cardinality, CMS = frequency, KMV bottom-k = distinct
    count AND principled set ops): per document source, the k=128
    smallest 31-bit hashes of its distinct 3-gram shingle set; for
    each source pair, the union sketch is the bottom-k of the merged
    minima and Jaccard ≈ |union's bottom-k ∩ K_a ∩ K_b| / |bottom-k|
    (Bar-Yossef et al.'s KMV estimator — unlike HLL, intersections
    need no error-amplifying inclusion-exclusion).

    Scale design: per-source state is exactly k hashes whatever the
    corpus size (mergeable by min-k union — map-side combinable), and
    the pair stage touches #sources² × k rows — bounded by the SOURCE
    dimension, never the corpus. Text leaves the scan only as 31-bit
    hashes. The bottom-k itself is TWO-PHASE: source count is tiny
    (~5), so a single per-source window sort would funnel the whole
    corpus's shingle stream into #sources tasks — instead phase 1
    dense_ranks within (source, h mod 64) salt groups (equal hashes
    share a salt, so per-salt distinct-rank is globally sound) and
    phase 2 merges the ≤64·k survivors per source. Shingle hashing
    reuses the dedup family's token-hash window scheme
    (``_shingle_hashes``: one md5 per TOKEN + arithmetic 3-gram
    combination — codegen'd; the per-shingle-string md5 HOF
    formulation measured ~10× slower), so the DuckDB oracle reproduces
    the sketch bit-for-bit; the estimate is integer counts + one IEEE
    divide."""
    from flink_cep_examples_spark.queries.dedup import _shingle_hashes

    k = KMV_J_K
    n_salt = 64
    docs = load_table(spark, sf_dir, "documents")
    src_dim = docs.select("doc_id", "source")
    hashed = _shingle_hashes(docs).join(
        F.broadcast(src_dim), "doc_id"
    ).select("source", F.col("hs").alias("h"))
    # phase 1: parallel partial bottom-k. dense_rank (not row_number)
    # so pre-distinct duplicates don't evict distinct small hashes;
    # the k smallest DISTINCT h per (source, salt) all survive.
    salted = hashed.withColumn("salt", F.pmod(F.col("h"), F.lit(n_salt)))
    w1 = Window.partitionBy("source", "salt").orderBy("h")
    cand = (
        salted.withColumn("rk", F.dense_rank().over(w1))
        .filter(F.col("rk") <= k)
        .select("source", "h")
        .dropDuplicates(["source", "h"])
    )
    # phase 2: global bottom-k over the ≤ n_salt·k candidates/source.
    # MATERIALIZED once (round-16 optimization, guide §2.4/§1.2): the
    # sketch is ≤ k rows per source — bounded by the SOURCE dimension —
    # but it is referenced four times below (srcs twice via the pair
    # cross, ka, kb), and without a materialization boundary Catalyst
    # re-executes the entire upstream corpus pipeline (token explode +
    # shingle window + salted bottom-k) once PER REFERENCE: the before
    # plan showed 24 parquet scans / 4 copies of the Window chain. One
    # localCheckpoint turns 4 corpus passes into 1 at any scale.
    w = Window.partitionBy("source").orderBy("h")
    kmv = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("source", "h")
        .localCheckpoint()
    )
    srcs = kmv.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .crossJoin(srcs.select(F.col("source").alias("sb")))
        .filter(F.col("sa") < F.col("sb"))
    )
    ka = kmv.select(F.col("source").alias("sa"), "h")
    kb = kmv.select(F.col("source").alias("sb"), "h")
    u = (
        pairs.join(ka, "sa")
        .select("sa", "sb", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib"))
        .unionByName(
            pairs.join(kb, "sb")
            .select(
                "sa", "sb", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib")
            )
        )
    )
    g = u.groupBy("sa", "sb", "h").agg(
        F.max("ia").alias("ia"), F.max("ib").alias("ib")
    )
    wp = Window.partitionBy("sa", "sb").orderBy("h")
    m = g.withColumn("rk", F.row_number().over(wp)).filter(F.col("rk") <= k)
    return (
        m.groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).alias("n_union_k"),
            F.sum(F.col("ia") * F.col("ib")).alias("n_both"),
        )
        .select(
            "sa",
            "sb",
            "n_union_k",
            "n_both",
            (
                F.col("n_both").cast("double")
                / F.col("n_union_k").cast("double")
            ).alias("jacc_est"),
        )
    )


def _oracle_kmv_jaccard() -> str:
    from flink_cep_examples_spark.queries.dedup import (
        _SQL_NORM,
        _sql_h31,
        C1,
        C2,
        P,
    )

    return f"""
WITH t AS (
  SELECT source, regexp_split_to_array({_SQL_NORM}, ' ') AS toks
  FROM documents
),
th AS (
  SELECT source, [{_sql_h31('tok')} FOR tok IN toks] AS th
  FROM t
),
sh AS (
  SELECT DISTINCT source,
         unnest([(th[i] * {C1} + coalesce(th[i + 1], 0) * {C2}
                  + coalesce(th[i + 2], 0)) % {P}
                 FOR i IN range(1, len(th) + 1)]) AS h
  FROM th
),
kmv AS (
  SELECT source, h FROM (
    SELECT source, h,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
    FROM sh
  ) WHERE rk <= {KMV_J_K}
),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM (SELECT DISTINCT source FROM kmv) a,
       (SELECT DISTINCT source FROM kmv) b
  WHERE a.source < b.source
),
u AS (
  SELECT p.sa, p.sb, k.h, 1 AS ia, 0 AS ib
  FROM pairs p JOIN kmv k ON k.source = p.sa
  UNION ALL
  SELECT p.sa, p.sb, k.h, 0 AS ia, 1 AS ib
  FROM pairs p JOIN kmv k ON k.source = p.sb
),
g AS (
  SELECT sa, sb, h, MAX(ia) AS ia, MAX(ib) AS ib
  FROM u GROUP BY sa, sb, h
),
m AS (
  SELECT * FROM (
    SELECT sa, sb, ia, ib,
           ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rk
    FROM g
  ) WHERE rk <= {KMV_J_K}
)
SELECT sa, sb,
       COUNT(*) AS n_union_k,
       CAST(SUM(ia * ib) AS BIGINT) AS n_both,
       CAST(SUM(ia * ib) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS jacc_est
FROM m GROUP BY sa, sb
"""


register(
    "sources_kmv_jaccard",
    sources_kmv_jaccard,
    _oracle_kmv_jaccard(),
    driver=False,  # r16 rotation: 9 green rounds (r7-r15), most-verified
)


# ---------------------------------------------------------------------------
# Mergeable log2-histogram quantiles (round 7)
# ---------------------------------------------------------------------------


def events_value_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantile ESTIMATION from a mergeable fixed-width
    log2 histogram — the bounded-state answer to per-group percentiles
    at 100 TB (exact rank selection — `events_value_percentiles` —
    shuffles every row to its group; this aggregates to ≤ 64 counter
    rows per event_type, map-side combinable, merge = vector add, the
    same shape a continuous aggregate rolls up).

    Binning is INTEGER-exact so engines cannot disagree: scale value
    to micro-units (round half up via floor(x*1e6 + 0.5) — the
    portable rounding the int8 ANN family established), then
    bin = bit_length(units) = floor(log2)+1 via length(bin(x)) — the
    HLL rho trick. Bin b covers [2^(b-1), 2^b) micro-units; the
    quantile estimate reports the bin's EXCLUSIVE upper edge 2^b/1e6
    (≤ 2× relative error by construction; zero/negative values land
    in bin 0 with upper edge 0). p50/p90/p99 = the smallest bin whose
    running count reaches ceil(p·n) — integer rank arithmetic, one
    IEEE divide at the end."""
    ev = load_table(spark, sf_dir, "events")
    units = F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    binned = ev.select(
        "event_type",
        F.when(units <= 0, F.lit(0))
        .otherwise(F.length(F.bin(units)))
        .alias("b"),
    )
    hist = binned.groupBy("event_type", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "event_type",
        "b",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    edge = F.when(F.col("b") == 0, F.lit(0.0)).otherwise(
        F.pow(F.lit(2.0), F.col("b").cast("double")) / F.lit(1000000.0)
    )

    def q(p: str):
        rank = F.ceil(F.col("n").cast("double") * F.lit(float(p))).cast(
            "bigint"
        )
        return F.min(F.when(F.col("cum") >= rank, edge)).alias(f"p{p[2:]}")

    return cum.groupBy("event_type").agg(
        F.max("n").alias("n_rows"), q("0.5"), q("0.9"), q("0.99")
    )


ORACLE_QUANTILE_HIST = """
WITH binned AS (
  SELECT event_type,
         CASE WHEN CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) <= 0
              THEN 0
              ELSE length(bin(CAST(FLOOR(value * 1000000.0 + 0.5)
                                   AS BIGINT)))
         END AS b
  FROM events
),
hist AS (
  SELECT event_type, b, COUNT(*) AS c FROM binned GROUP BY event_type, b
),
cum AS (
  SELECT event_type, b,
         SUM(c) OVER (PARTITION BY event_type ORDER BY b
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM hist
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       MIN(CASE WHEN cum >= CAST(CEIL(CAST(n AS DOUBLE) * 0.5) AS BIGINT)
                THEN CASE WHEN b = 0 THEN 0.0
                          ELSE power(2.0, CAST(b AS DOUBLE)) / 1000000.0
                     END END) AS p5,
       MIN(CASE WHEN cum >= CAST(CEIL(CAST(n AS DOUBLE) * 0.9) AS BIGINT)
                THEN CASE WHEN b = 0 THEN 0.0
                          ELSE power(2.0, CAST(b AS DOUBLE)) / 1000000.0
                     END END) AS p9,
       MIN(CASE WHEN cum >= CAST(CEIL(CAST(n AS DOUBLE) * 0.99) AS BIGINT)
                THEN CASE WHEN b = 0 THEN 0.0
                          ELSE power(2.0, CAST(b AS DOUBLE)) / 1000000.0
                     END END) AS p99
FROM cum GROUP BY event_type
"""


register(
    "events_value_quantile_hist",
    events_value_quantile_hist,
    ORACLE_QUANTILE_HIST,
    driver=False,  # r16 rotation: 9 green rounds (r7-r15), most-verified
)


#: docs_temperature_mix: total token budget as a percent of the corpus
_TM_PCT = 40


def _temperature_budget_rule(ntok: DataFrame) -> DataFrame:
    """Temperature-smoothed per-language budgets (the multilingual-LM
    exponent-sampling recipe at α = 0.5): budget_l ∝ sqrt(mass_l), so
    head languages are down-weighted and tail languages up-weighted
    relative to their natural share, summing (up to flooring) to a
    TOTAL budget of ``_TM_PCT``% of the corpus tokens.

    Cross-engine exactness: α = 0.5 deliberately — ``sqrt`` is IEEE
    correctly-rounded in every engine where ``pow(x, 0.3)``'s libm is
    not; weights quantize to integers (wq = floor(sqrt(ntok))) and ALL
    remaining arithmetic is integer: budget = (T div W)·wq +
    ((T mod W)·wq) div W with T the total budget and W = Σwq — the
    two-term split keeps every intermediate under 2^63 at any corpus
    size (T·wq alone would overflow at ~10^13 tokens).

    Degenerate input (ADVICE r14): an empty or all-zero-token corpus
    makes W = 0; Spark's integer ``div`` by zero yields NULL (silently
    selecting nothing) where DuckDB's ``// 0`` errors — so the rule
    short-circuits W = 0 to budget 0 explicitly, and the two engines
    agree that nothing is admitted."""
    w = ntok.withColumn(
        "wq", F.floor(F.sqrt(F.col("ntok").cast("double"))).cast("bigint")
    )
    tot = w.agg(
        F.sum("ntok").alias("tot_tok"), F.sum("wq").alias("w_sum")
    )
    t_expr = F.expr(f"tot_tok * {_TM_PCT} div 100")
    return (
        w.crossJoin(F.broadcast(tot))
        .withColumn("t", t_expr)
        .select(
            "lang",
            F.when(
                F.col("w_sum") > 0,
                (F.expr("t div w_sum")) * F.col("wq")
                + F.expr("((t % w_sum) * wq) div w_sum"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("budget"),
        )
    )


def temperature_budgets(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """The sqrt-smoothed per-language budgets ``docs_temperature_mix``
    derives, as a plain dict — the config handed to the ingest-time
    admission stream (``streaming/budget_stream.py``), so ingest
    admission and the batch mix fill the SAME budgets (pinned by
    tests/test_streaming_budget.py::test_budget_stream_temperature_budgets)."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = docs.groupBy("lang").agg(
        F.sum(F.expr(TOKEN_PROXY_SQL)).alias("ntok")
    )
    return {
        r.lang: r.budget for r in _temperature_budget_rule(ntok).collect()
    }


def docs_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed multilingual mixture (round 14): the
    exponent-sampling recipe multilingual LMs train with — sampling
    share ∝ (language mass)^α, α = 0.5 — expressed as per-language
    TOKEN budgets filled by the deterministic minimal hash-order
    prefix. Relative to ``docs_token_budget_mix`` (hand-set
    per-language percents) the budgets here are DERIVED: one global
    budget (40% of corpus tokens) split ∝ sqrt(mass_l), so the head
    language's share falls and tail languages rise — the smoothing
    that keeps low-resource languages represented.

    Reuses the whole bucket-prefiltered selection machinery
    (:func:`token_budget_prefix` with a budget rule), so the scale
    shape is identical: the wide shuffle is O(boundary-bucket rows),
    never O(corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    return token_budget_prefix(docs, budget_rule=_temperature_budget_rule)


ORACLE_TEMPERATURE_MIX = f"""
WITH d AS (
  SELECT doc_id, lang, (n_chars + 3) // 4 AS tok,
         (doc_id * {_MIX}) % {_MOD} AS h
  FROM documents
),
m AS (SELECT lang, SUM(tok) AS ntok FROM d GROUP BY lang),
w AS (
  SELECT lang, ntok,
         CAST(FLOOR(sqrt(CAST(ntok AS DOUBLE))) AS BIGINT) AS wq
  FROM m
),
tot AS (
  SELECT (SELECT SUM(ntok) FROM m) * {_TM_PCT} // 100 AS t,
         (SELECT SUM(wq) FROM w) AS w_sum
),
bgt AS (
  SELECT lang, (t // w_sum) * wq + ((t % w_sum) * wq) // w_sum AS budget
  FROM w, tot
),
c AS (
  SELECT d.doc_id, d.lang, d.tok, bgt.budget,
         COALESCE(SUM(d.tok) OVER (
           PARTITION BY d.lang ORDER BY d.h, d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM d JOIN bgt USING (lang)
)
SELECT doc_id, lang, tok FROM c WHERE cum_before < budget
"""


register(
    "docs_temperature_mix",
    docs_temperature_mix,
    ORACLE_TEMPERATURE_MIX,
    # r15 rotation: promoted (never-driver-verified pool)
)


def docs_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order interleave (round 15) — the stage
    AFTER mixture selection that no prior query covered: given the
    temperature-smoothed admitted mix, emit the single global order a
    trainer should read it in, stride-interleaved so that ANY prefix
    of the order holds each language in (approximately) its admitted
    token share — the standard alternative to "all of language A, then
    all of B", which catastrophically skews early training.

    Stride scheduling: within a language, docs keep the admission hash
    order; doc i (tokens t_i, cumulative c_i before it) sits at
    fractional position (2·c_i + t_i) / (2·T_lang) — the midpoint of
    its token span in [0, 1) — and the global order sorts by that
    fraction (ties broken by lang, doc_id). All inputs are integers
    and both engines evaluate the same IEEE-double expression, so the
    order is bit-reproducible.

    Scale shape (100 TB): the per-language windows shuffle once on
    lang; the global order is a RANGE-partitioned sort (the same
    machinery a distributed ORDER BY uses — no single-reducer window),
    and the global index is the classic two-pass pattern: per-range
    row_number + a per-PARTITION offset table collected to the driver
    (bounded: one row per shuffle partition, NOT per data row). A
    naive ``Window.orderBy(frac)`` with no partition key would funnel
    every row through one task; this form keeps all 1000 executors
    sorting their own key range."""
    return training_order_frame(docs_temperature_mix(spark, sf_dir))


def training_order_frame(
    mix: DataFrame,
    *,
    lang_order: list | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The stride-interleave over ANY (doc_id, lang, tok) admission
    frame — factored from :func:`docs_training_order` so the
    Hypothesis differential can feed arbitrary frames
    (tests/test_sampling.py).

    ``lang_order``: the WITHIN-language presentation order (sort
    columns; default = the admission hash order). The curriculum
    variant passes quality-score-descending here. ``extra_cols``:
    additional input columns carried through to the output.

    Snapshot semantics (ADVICE r15): the range-partitioned frame is
    ``localCheckpoint``-ed EAGERLY — the pid assignment and the
    offset table collected from it are frozen in materialized blocks,
    so a returned frame consumed at ANY later time (including after
    further invocations) can never re-execute ``repartitionByRange``
    under a different sampling seed and drift from its own offsets.
    The blocks are released with the frame by GC (no module-global
    cache to evict, the r15 ``_PERSISTED`` hazard); executor-local
    durability is acceptable here because the frame is internal to a
    single query execution — a lost executor fails that query run,
    which simply re-runs."""
    spark = mix.sparkSession
    if lang_order is None:
        lang_order = [_mix(F.col("doc_id")), F.col("doc_id")]
    wlang = (
        Window.partitionBy("lang")
        .orderBy(*lang_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos = (
        mix.withColumn(
            "cum_before", F.coalesce(F.sum("tok").over(wlang), F.lit(0))
        )
        .withColumn(
            "adm_tok", F.sum("tok").over(Window.partitionBy("lang"))
        )
        .withColumn(
            "frac",
            (F.lit(2.0) * F.col("cum_before") + F.col("tok"))
            / (F.lit(2.0) * F.col("adm_tok")),
        )
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Materialize the scored frame BEFORE range partitioning (round-16
    # optimization, guide §1.2: don't run the same pass twice):
    # ``repartitionByRange`` first runs a range-boundary SAMPLING job
    # over its input, so without this boundary the entire upstream mix
    # pipeline (scan → bucket windows → budget join → union) executed
    # TWICE — once for the sample, once for the ranged materialization
    # (profiled: 22 jobs / 44 stages per docs_training_order call).
    # Rows here are narrow (ids + 3 longs + a double); the blocks are
    # released with the frame by GC, same lifetime story as ``ranged``.
    # CORPUS-SIZED, so the boundary goes through materialize():
    # localCheckpoint locally, SPARK_GRAFT_MATERIALIZE=persist selects
    # the fault-tolerant persist(DISK_ONLY) form for cluster runs
    # (round-17, guide §5). ``ranged`` below stays a localCheckpoint
    # unconditionally: its pid/offset snapshot contract needs frozen
    # blocks — recomputing it from lineage could re-sample different
    # range boundaries; the cluster-safe form there is a RELIABLE
    # checkpoint, not persist.
    pos = materialize(pos)
    ranged = (
        pos.repartitionByRange(n_parts, "frac", "lang", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # bounded driver state: ONE row per range partition, whatever the
    # corpus size — the two-pass global-index offset table
    cnts = {
        int(r.pid): int(r.c)
        for r in ranged.groupBy("pid").agg(
            F.count(F.lit(1)).alias("c")
        ).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(cnts):
        offsets.append((pid, acc))
        acc += cnts[pid]
    off_df = spark.createDataFrame(
        offsets or [(0, 0)], "pid int, off bigint"
    )
    wpid = Window.partitionBy("pid").orderBy("frac", "lang", "doc_id")
    out = (
        ranged.join(F.broadcast(off_df), "pid")
        .select(
            (F.row_number().over(wpid) + F.col("off")).alias("ord"),
            "doc_id",
            "lang",
            "tok",
            *extra_cols,
        )
    )
    return out


def _oracle_training_order() -> str:
    return f"""
WITH mix AS ({ORACLE_TEMPERATURE_MIX}),
adm AS (SELECT lang, SUM(tok) AS adm_tok FROM mix GROUP BY lang),
pos AS (
  SELECT m.doc_id, m.lang, m.tok,
         COALESCE(SUM(m.tok) OVER (
           PARTITION BY m.lang
           ORDER BY (m.doc_id * {_MIX}) % {_MOD}, m.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         adm.adm_tok
  FROM mix m JOIN adm USING (lang)
)
SELECT ROW_NUMBER() OVER (
         ORDER BY (2.0 * cum_before + tok) / (2.0 * adm_tok),
                  lang, doc_id) AS ord,
       doc_id, lang, tok
FROM pos
"""


register(
    "docs_training_order",
    docs_training_order,
    _oracle_training_order(),
    # r16 rotation: promoted (never-driver-verified r15 registration)
)


#: target token mass per training shard (pinned small for the
#: fixtures; a real run sets ~100M-1B tokens per shard file)
SHARD_TOKENS = 1024


def docs_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest for the training order (round 15) — the WRITER
    stage that completes the mix → order → shards story: cut the
    global training order into fixed-token-mass shards (shard_id =
    tokens-before-this-doc div SHARD_TOKENS — every shard holds
    ~SHARD_TOKENS tokens of CONTIGUOUS order, so shard files can be
    written independently and read back in order) and report, per
    shard, the manifest a data loader needs: doc count, token mass,
    the ord range it covers, and how many languages it mixes (the
    interleave means every non-tail shard should mix several — the
    property a lang-blocked order would fail).

    Scale shape: the global running token sum reuses the two-pass
    range-partitioned pattern from :func:`docs_training_order` —
    per-range window cumsum + a one-row-per-partition token-offset
    table via the driver; the manifest aggregation shuffles once on
    shard_id. No single-reducer window anywhere."""
    ordered = docs_training_order(spark, sf_dir)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # same eager-localCheckpoint snapshot contract as
    # training_order_frame (ADVICE r15): pid and token offsets frozen
    ranged = (
        ordered.repartitionByRange(n_parts, "ord")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    sums = {
        int(r.pid): int(r.s)
        for r in ranged.groupBy("pid").agg(
            F.sum("tok").alias("s")
        ).collect()
    }
    offs, acc = [], 0
    for pid in sorted(sums):
        offs.append((pid, acc))
        acc += sums[pid]
    off_df = spark.createDataFrame(offs or [(0, 0)], "pid int, toff bigint")
    wpid = (
        Window.partitionBy("pid")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(off_df), "pid")
        .withColumn(
            "cum_before",
            F.coalesce(F.sum("tok").over(wpid), F.lit(0)) + F.col("toff"),
        )
        .withColumn("shard_id", F.expr(f"cum_before div {SHARD_TOKENS}"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.min("ord").alias("first_ord"),
            F.max("ord").alias("last_ord"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def _oracle_training_shards() -> str:
    return f"""
WITH ordq AS ({_oracle_training_order()}),
c AS (
  SELECT *,
         COALESCE(SUM(tok) OVER (
           ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM ordq
)
SELECT CAST(cum_before // {SHARD_TOKENS} AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens,
       MIN(ord) AS first_ord,
       MAX(ord) AS last_ord,
       COUNT(DISTINCT lang) AS n_langs
FROM c GROUP BY shard_id
"""


register(
    "docs_training_shards",
    docs_training_shards,
    _oracle_training_shards(),
    # r16 rotation: promoted (never-driver-verified r15 registration)
)


def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum training order (round 15) — the curriculum-
    learning variant of :func:`docs_training_order`: within each
    language the admitted docs are presented CLEANEST-FIRST (NB
    quality log-odds descending — the learned signal
    ``docs_nb_quality_classifier`` trains; nano-nat quantized, so the
    sort key is cross-engine exact), while languages still stride-
    interleave by token mass, so any prefix holds each language near
    its admitted share AND each language's stream starts with its
    highest-quality documents — the standard easy/clean-first
    curriculum without giving up the multilingual mix.

    Scale shape: identical to ``docs_training_order`` (the shared
    :func:`training_order_frame` machinery — per-language windows,
    range-partitioned global sort, one-row-per-partition offset
    table) plus one doc_id equi-join against the NB scores."""
    from flink_cep_examples_spark.queries.curation import (
        docs_nb_quality_classifier,
    )

    mix = docs_temperature_mix(spark, sf_dir)
    nb = docs_nb_quality_classifier(spark, sf_dir).select(
        "doc_id", "log_odds"
    )
    j = mix.join(nb, "doc_id")
    return training_order_frame(
        j,
        lang_order=[
            F.desc("log_odds"),
            _mix(F.col("doc_id")),
            F.col("doc_id"),
        ],
        extra_cols=("log_odds",),
    )


def _oracle_curriculum_order() -> str:
    from flink_cep_examples_spark.queries.curation import (
        NB_QUALITY_CTES,
        NB_QUALITY_SELECT,
    )

    return f"""
WITH mix AS ({ORACLE_TEMPERATURE_MIX}),
{NB_QUALITY_CTES},
nb AS ({NB_QUALITY_SELECT}),
j AS (
  SELECT m.doc_id, m.lang, m.tok, nb.log_odds
  FROM mix m JOIN nb USING (doc_id)
),
adm AS (SELECT lang, SUM(tok) AS adm_tok FROM j GROUP BY lang),
pos AS (
  SELECT j.doc_id, j.lang, j.tok, j.log_odds,
         COALESCE(SUM(j.tok) OVER (
           PARTITION BY j.lang
           ORDER BY j.log_odds DESC,
                    (j.doc_id * {_MIX}) % {_MOD}, j.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         adm.adm_tok
  FROM j JOIN adm USING (lang)
)
SELECT ROW_NUMBER() OVER (
         ORDER BY (2.0 * cum_before + tok) / (2.0 * adm_tok),
                  lang, doc_id) AS ord,
       doc_id, lang, tok, log_odds
FROM pos
"""


register(
    "docs_curriculum_order",
    docs_curriculum_order,
    _oracle_curriculum_order(),
    # r16 rotation: promoted (never-driver-verified r15 registration)
)
