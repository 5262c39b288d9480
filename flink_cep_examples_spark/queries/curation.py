"""Corpus-curation operators over ``documents`` — the quality-filter /
scrubbing stage of a pre-training data pipeline (beyond-reference
surface; the reference's closest analogue is the predicate/projection
tier, SURVEY §2.2).

Everything here is built-in ``pyspark.sql.functions`` — higher-order
array functions and regexes run JVM-side inside whole-stage codegen, so
each query is an embarrassingly-parallel scan+project (plus one bounded
TakeOrdered for the corpus top-k). At 100 TB: full column pruning (only
``doc_id``/``text`` leave the parquet scan), no shuffle except the
map-side-combined bigram count, no Python in any hot path.

Oracle-exactness notes: ratios divide identical int64s → bit-identical
IEEE doubles; every regex is a character-class/alternation pattern from
the Java∩RE2 common dialect (no lookaround, no backrefs); bigrams are
built by the same index arithmetic in both engines (0-indexed transform
in Spark, 1-indexed list comprehension in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cep_examples_spark.queries import register
from flink_cep_examples_spark.sources.tables import (
    load_table,
    materialize,
    spread,
)

#: PII patterns (Java∩RE2-portable: classes + bounded repeats only).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9][0-9()\- ]{6,}[0-9]"

#: Gopher-style quality rule thresholds (Rae et al. 2021, public).
MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MEAN_LEN, MAX_MEAN_LEN = 3.0, 10.0
MIN_ALPHA_FRAC = 0.8

TOP_BIGRAMS = 20


def _toks(c) -> Column:
    return F.split(F.trim(c), r"\s+")


def _bigrams(toks: Column) -> Column:
    """Adjacent-pair array; empty for 0/1-token docs (guarded —
    ``sequence(0, -1)`` would count *down* in Spark)."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _token_bigram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, t, bigram) rows: posexplode the token array and form
    each adjacent pair with a per-doc ``lead`` window (null at the last
    position). Everything stays in whole-stage codegen — the
    array-HOF formulation (``transform`` + ``element_at``) evaluates
    interpreted and measured ~6× slower at sf0.1 (same pathology as
    the shingle hashing in queries/dedup.py)."""
    from pyspark.sql.window import Window

    e = docs.select(
        "doc_id", F.posexplode(_toks(F.col("text"))).alias("pos", "t")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return e.select(
        "doc_id",
        "t",
        F.concat_ws(" ", F.col("t"), F.lead("t", 1).over(w)).alias("bigram"),
        F.lead("t", 1).over(w).isNotNull().alias("has_next"),
    )


def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals: duplicate-token and duplicate-bigram
    fractions per document (the Gopher "repetition" family — high
    values flag boilerplate / degenerate generations).

    Plan shape: explode → per-doc window (one shuffle on doc_id, reused
    by the groupBy — same key, no second exchange) → count/
    count-distinct aggregates; all codegen."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    rows = _token_bigram_rows(docs)
    agg = rows.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("t").alias("n_distinct_tokens"),
        F.sum(F.col("has_next").cast("int")).alias("n_bigrams"),
        F.countDistinct(
            F.when(F.col("has_next"), F.col("bigram"))
        ).alias("n_distinct_bigrams"),
    )
    n_tok, n_dis = F.col("n_tokens"), F.col("n_distinct_tokens")
    n_big, n_bdis = F.col("n_bigrams"), F.col("n_distinct_bigrams")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        ((n_tok - n_dis).cast("double") / n_tok).alias("dup_token_ratio"),
        "n_bigrams",
        "n_distinct_bigrams",
        F.when(n_big > 0, (n_big - n_bdis).cast("double") / n_big)
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_ratio"),
    )


ORACLE_REPETITION = r"""
WITH s AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), b AS (
  SELECT doc_id, toks,
         [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))] AS big
  FROM s
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct_tokens,
       CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks)
         AS dup_token_ratio,
       len(big) AS n_bigrams,
       len(list_distinct(big)) AS n_distinct_bigrams,
       CASE WHEN len(big) > 0
            THEN CAST(len(big) - len(list_distinct(big)) AS DOUBLE) / len(big)
            ELSE 0.0 END AS dup_bigram_ratio
FROM b
"""


def docs_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter: word-count bounds, mean word length
    band, and minimum fraction of words containing an alphabetic
    character. Emits the metrics, the per-rule flags, and the composite
    ``keep`` — the standard shape for an auditable corpus gate (keep
    the flags so downstream can re-cut without a rescan)."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = _toks(F.col("text"))
    n_words = F.size(toks)
    n_word_chars = F.length(F.regexp_replace("text", r"\s", ""))
    mean_len = n_word_chars.cast("double") / n_words
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    alpha_frac = n_alpha.cast("double") / n_words
    words_ok = (n_words >= MIN_WORDS) & (n_words <= MAX_WORDS)
    len_ok = (mean_len >= MIN_MEAN_LEN) & (mean_len <= MAX_MEAN_LEN)
    alpha_ok = alpha_frac >= MIN_ALPHA_FRAC
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        words_ok.alias("words_ok"),
        len_ok.alias("mean_len_ok"),
        alpha_ok.alias("alpha_ok"),
        (words_ok & len_ok & alpha_ok).alias("keep"),
    )


ORACLE_GOPHER = rf"""
WITH s AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         length(regexp_replace(text, '\s', '', 'g')) AS n_word_chars
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         CAST(n_word_chars AS DOUBLE) / len(toks) AS mean_word_len,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
              AS DOUBLE) / len(toks) AS alpha_word_frac
  FROM s
)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
       (n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS}) AS words_ok,
       (mean_word_len >= {MIN_MEAN_LEN} AND mean_word_len <= {MAX_MEAN_LEN})
         AS mean_len_ok,
       (alpha_word_frac >= {MIN_ALPHA_FRAC}) AS alpha_ok,
       (n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS}
        AND mean_word_len >= {MIN_MEAN_LEN} AND mean_word_len <= {MAX_MEAN_LEN}
        AND alpha_word_frac >= {MIN_ALPHA_FRAC}) AS keep
FROM m
"""


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / international phone numbers in
    ``text_col`` (appends ``<col>_scrubbed`` + per-kind counts).
    Reusable operator — ``docs_pii_scrub`` below is its query form."""
    c = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return df.withColumns(
        {
            f"{text_col}_scrubbed": scrubbed,
            "n_emails": F.regexp_count(c, F.lit(EMAIL_RE)),
            "n_ips": F.regexp_count(c, F.lit(IPV4_RE)),
            "n_phones": F.regexp_count(c, F.lit(PHONE_RE)),
        }
    )


def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit over the corpus: per-kind redaction counts and a
    digest of the scrubbed text. (The synthetic corpus is clean — the
    cross-engine differential then pins that the scrub is an exact
    identity on clean text, i.e. no false-positive rewrites; dirty-text
    behavior is pinned by unit tests on constructed rows.)"""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return scrub_pii(docs).select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_phones",
        F.md5(F.col("text_scrubbed")).alias("scrubbed_md5"),
    )


ORACLE_PII = rf"""
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{IPV4_RE}')) AS n_ips,
       len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{EMAIL_RE}', '<EMAIL>', 'g'),
             '{IPV4_RE}', '<IP>', 'g'),
             '{PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
FROM documents
"""


def docs_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-TOP_BIGRAMS bigrams (count desc, bigram asc
    tiebreak).

    Scale shape: codegen explode + per-doc lead window (shuffle on
    doc_id) → map-side-combined count (partial agg before the shuffle
    on the bigram string) → TakeOrdered TOP_BIGRAMS (per-partition
    heaps; only that many
    rows cross to the driver, never a global sort)."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        _token_bigram_rows(docs)
        .filter(F.col("has_next"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(TOP_BIGRAMS)
    )


ORACLE_BIGRAM_TOPK = rf"""
WITH s AS (
  SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
), e AS (
  SELECT unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))])
           AS bigram
  FROM s
)
SELECT bigram, COUNT(*) AS n
FROM e
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT {TOP_BIGRAMS}
"""


#: chunking geometry: fixed character window with overlap (the RAG /
#: context-window splitting default)
CHUNK_CHARS = 500
CHUNK_STRIDE = 400  # 100-char overlap


def docs_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking — the UDTF-shaped span
    splitter feeding retrieval indexes and context-window packing: one
    row per (doc, chunk) with the span coordinates and a chunk digest.

    Plan shape: ``posexplode(sequence(...))`` is a codegen row
    generator — no Python, no shuffle at all (pure scan → generate →
    project), so it scales as a straight map over the corpus. Char
    (not byte) offsets: both engines index UTF-8 strings by codepoint,
    so the spans agree on multibyte text."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    n = F.length("text")
    starts = F.sequence(
        F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_STRIDE)
    )
    return docs.select(
        "doc_id",
        F.explode(starts).alias("start"),
        "text",
    ).select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start"),
        F.expr(f"substr(text, start + 1, {CHUNK_CHARS})").alias("chunk"),
    ).select(
        "doc_id",
        "chunk_id",
        "start",
        F.length("chunk").cast("long").alias("chunk_len"),
        F.md5("chunk").alias("chunk_md5"),
    )


ORACLE_CHUNKS = f"""
WITH s AS (
  SELECT doc_id, text,
         unnest(range(0, greatest(length(text), 1), {CHUNK_STRIDE})) AS start
  FROM documents
)
SELECT doc_id,
       start // {CHUNK_STRIDE} AS chunk_id,
       start,
       length(substr(text, CAST(start + 1 AS INT), {CHUNK_CHARS}))
         AS chunk_len,
       md5(substr(text, CAST(start + 1 AS INT), {CHUNK_CHARS})) AS chunk_md5
FROM s
"""


register(
    "docs_chunk_spans", docs_chunk_spans, ORACLE_CHUNKS,
    driver=True,  # r13 rotation: re-promoted (last green r3)
)
register("docs_repetition_stats", docs_repetition_stats, ORACLE_REPETITION, driver=True,  # r13 rotation: re-promoted (last green r3)
)
register("docs_gopher_quality", docs_gopher_quality, ORACLE_GOPHER, driver=False)
register("docs_pii_scrub", docs_pii_scrub, ORACLE_PII, driver=True,  # r13 rotation: re-promoted (last green r3)
)
register(
    "docs_bigram_topk", docs_bigram_topk, ORACLE_BIGRAM_TOPK,
    driver=False,  # r7 rotation: driver-verified green r2/r4/r5/r6; pytest-gated now
)


def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 5: self-trained unigram-LM quality score — the standard
    perplexity-proxy curation signal (a corpus-trained LM scores each
    document; outliers are boilerplate/noise). Tokens are the corpus's
    whitespace convention lowercased; the LM is token → count/N over
    the whole corpus; score = mean ln p(token) per document.

    Scale design: token rows reduce to (doc_id, token, tf) BEFORE the
    vocabulary join, so the join volume is distinct tokens per doc
    (not raw length) and hot common-token keys carry one row per doc —
    AQE's skew split handles the rest. The vocabulary itself stays
    distributed (shuffle join on token): at 100 TB the vocab is
    ~10⁸ rows — too big to force-broadcast, small next to the corpus.
    avg ln p = (Σ tf·ln cnt)/n − ln N uses one scalar broadcast for N.
    Zero Python UDFs.

    Determinism (round-6 fix for the round-5 driver hash red): per-token
    logs are quantized to integer NANO-NATS (lnq = ⌊ln(cnt)·1e9 + 0.5⌋,
    a BIGINT), so the distributed per-document reduction is EXACT
    integer arithmetic — order-free — and the only floating-point ops
    are a fixed, engine-identical expression at the end. This removes
    both nondeterministic double-summation order AND the measured
    cross-engine ln() ulp divergence (Spark's ln(936) differs from
    DuckDB's by 1 ulp) from the hash surface: a 1-ulp ln discrepancy
    scales to ~1e-6 of the quantum, flipping the quantization only if
    the true value sits within ~1e-6 of a half-boundary (guarded by
    tests/test_float_determinism.py on the actual corpora)."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    )
    # Materialize the reduced (doc_id, tok, tf) frame once (round-16
    # optimization, guide §1.2): it feeds THREE branches (the scoring
    # join, the vocabulary counts, the corpus total), and each re-ran
    # the full tokenize+explode+reduce without this boundary — the
    # before plan scanned the corpus 3×. One tokenize pass + a
    # local-block materialization beats three passes at any scale; the
    # frame is already the post-reduction size (distinct tokens per
    # doc, not raw length). The frame is CORPUS-SIZED, so the boundary
    # goes through materialize(): default localCheckpoint locally,
    # SPARK_GRAFT_MATERIALIZE=persist selects the fault-tolerant
    # persist(DISK_ONLY) form for cluster runs (round-17, guide §5).
    tf = materialize(
        tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    )
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    lnq = vocab.select(
        "tok",
        F.floor(F.log("cnt") * F.lit(1e9) + F.lit(0.5)).alias("lnq"),
    )
    # Σ_vocab cnt ≡ Σ_tf tf (exact integer sums) — computing the corpus
    # total straight off the checkpointed tf frame skips a second
    # vocabulary-keyed shuffle (round-16 optimization, guide §2.4)
    total = tf.agg(
        F.floor(F.log(F.sum("tf")) * F.lit(1e9) + F.lit(0.5)).alias(
            "ln_total_q"
        )
    )
    return (
        tf.join(lnq, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lnq")).alias("s_q"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("s_q").cast("double")
                / F.lit(1e9)
                / F.col("n_tokens").cast("double")
                - F.col("ln_total_q").cast("double") / F.lit(1e9)
            ).alias("avg_logprob"),
        )
    )


ORACLE_UNIGRAM = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
),
vocab AS (
  SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY tok
),
lnq AS (
  SELECT tok, CAST(FLOOR(ln(cnt) * 1e9 + 0.5) AS BIGINT) AS lnq FROM vocab
),
total AS (
  SELECT CAST(FLOOR(ln(SUM(cnt)) * 1e9 + 0.5) AS BIGINT) AS ln_total_q
  FROM vocab
)
SELECT tf.doc_id,
       CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(tf.tf * lnq.lnq) AS BIGINT) AS DOUBLE)
         / 1e9 / CAST(CAST(SUM(tf.tf) AS BIGINT) AS DOUBLE)
         - CAST(ANY_VALUE(total.ln_total_q) AS DOUBLE) / 1e9
         AS avg_logprob
FROM tf JOIN lnq USING (tok), total
GROUP BY tf.doc_id
"""


register(
    "docs_unigram_logprob", docs_unigram_logprob, ORACLE_UNIGRAM,
    driver=False,  # r13 rotation: 7 green rounds (r6-r12); pytest-gated now
)


#: interpolation weight for the bigram LM: p = λ·p_bi + (1-λ)·p_uni
_BLAM = 0.75


def docs_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: self-trained INTERPOLATED BIGRAM LM quality score —
    one model order above ``docs_unigram_logprob``, the shape real
    perplexity-proxy filters use (KenLM-style n-gram scoring à la
    CCNet): p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/N with λ=0.75,
    score = mean ln p over a document's adjacent pairs. Repetitive
    boilerplate scores HIGH (its bigrams are corpus-frequent), rare
    or shuffled text scores low — a sharper signal than unigram,
    which cannot see word order at all (the pytest pins exactly that
    separation on a planted corpus).

    Scale design (the unigram recipe, one order up): pair rows reduce
    to (doc_id, w₁, w₂, tf) BEFORE any join, so join volume is
    distinct bigrams per doc; the bigram model, the first-token
    context totals, and the unigram table all stay DISTRIBUTED
    (shuffle joins on their token keys — at 100 TB the bigram vocab
    is far too big to broadcast, and far smaller than the corpus);
    N is the only broadcast scalar. Bigram formation is codegen
    posexplode + per-doc lead window (the _token_bigram_rows
    rationale: array HOFs evaluate interpreted, ~6× slower).

    Determinism: per-bigram logs quantized to integer nano-nats
    (BIGINT), per-document reduction Σ tf·lnq exact order-free
    integer arithmetic, final /1e9 fixed-form — and the λ literals
    are written in exponent form in the oracle so DuckDB parses them
    as DOUBLE, not DECIMAL (the HLL alpha-literal lesson)."""
    from pyspark.sql.window import Window

    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    e = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
            "pos", "w1"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = e.select(
        "doc_id", "w1", F.lead("w1", 1).over(w).alias("w2")
    ).filter(F.col("w2").isNotNull())
    tfb = pairs.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("tf")
    )
    big = tfb.groupBy("w1", "w2").agg(F.sum("tf").alias("cb"))
    c1 = big.groupBy("w1").agg(F.sum("cb").alias("c1"))
    uni = e.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    n = uni.agg(F.sum("cu").alias("n"))
    lnq = (
        big.join(c1, "w1")
        .join(uni.withColumnRenamed("w1", "w2"), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    F.lit(_BLAM) * F.col("cb") / F.col("c1")
                    + F.lit(1 - _BLAM) * F.col("cu") / F.col("n")
                )
                * F.lit(1e9)
                + F.lit(0.5)
            ).alias("lnq"),
        )
    )
    return (
        tfb.join(lnq, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("lnq")).alias("s_q"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.col("s_q").cast("double")
                / F.lit(1e9)
                / F.col("n_bigrams").cast("double")
            ).alias("avg_logprob"),
        )
    )


ORACLE_BIGRAM_LM = rf"""
WITH s AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents
),
pair AS (
  SELECT doc_id,
         unnest([toks[i] FOR i IN range(1, len(toks))]) AS w1,
         unnest([toks[i + 1] FOR i IN range(1, len(toks))]) AS w2
  FROM s
),
tok AS (SELECT unnest(toks) AS w FROM s),
uni AS (SELECT w, COUNT(*) AS cu FROM tok GROUP BY w),
n AS (SELECT COUNT(*) AS n FROM tok),
tfb AS (
  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM pair GROUP BY doc_id, w1, w2
),
big AS (SELECT w1, w2, SUM(tf) AS cb FROM tfb GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(cb) AS c1 FROM big GROUP BY w1),
lnq AS (
  SELECT big.w1, big.w2,
         CAST(FLOOR(ln(
           {_BLAM}e0 * cb / c1.c1 + {1 - _BLAM}e0 * uni.cu / n.n
         ) * 1e9 + 0.5) AS BIGINT) AS lnq
  FROM big JOIN c1 USING (w1) JOIN uni ON uni.w = big.w2, n
)
SELECT tfb.doc_id,
       CAST(SUM(tfb.tf) AS BIGINT) AS n_bigrams,
       CAST(CAST(SUM(tfb.tf * lnq.lnq) AS BIGINT) AS DOUBLE)
         / 1e9 / CAST(CAST(SUM(tfb.tf) AS BIGINT) AS DOUBLE)
         AS avg_logprob
FROM tfb JOIN lnq USING (w1, w2)
GROUP BY tfb.doc_id
"""


register(
    "docs_bigram_logprob",
    docs_bigram_logprob,
    ORACLE_BIGRAM_LM,
    # r14 rotation: promoted into the driver gate (never-verified pool)
    driver=True,
)


#: DSIR feature space: hashed token buckets. Fixed small B keeps the
#: two unigram models broadcastable at ANY corpus size (real DSIR uses
#: B ~ 10⁴ — still trivially broadcast); add-one smoothing keeps every
#: bucket's log-ratio finite.
DSIR_BUCKETS = 512
DSIR_TARGET = "src0"  # the target domain (deterministic test corpus)


def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 5: DSIR-style importance-resampling weights — score each
    document by how target-like it is under hashed bag-of-token
    unigram models (importance weight = p_target / p_raw per feature;
    the published Data Selection via Importance Resampling recipe).
    Documents from (or resembling) the target domain get log_weight
    near/above 0; off-domain documents go negative.

    Scale design: token rows reduce to (doc_id, bucket, tf) BEFORE any
    join; both models aggregate to B = 512 rows (fixed, broadcastable
    at any corpus size) with add-one smoothing; per-doc scoring is one
    broadcast join + one doc-keyed sum. Portable md5-arith bucket hash
    (identical in Spark and DuckDB), zero Python UDFs.

    Determinism (round-6, same fix as docs_unigram_logprob): per-bucket
    log-ratios are quantized to integer nano-nats (BIGINT lwq), the
    per-document reduction Σ tf·lwq is exact order-free integer
    arithmetic, and the only float op is a final engine-identical
    /1e9 — closing the round-5 driver hash red caused by
    nondeterministic double-summation order + ln() ulp divergence."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
        % DSIR_BUCKETS,
    )
    btf = tok.groupBy("doc_id", "b").agg(F.count("*").alias("tf"))
    raw = tok.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(
            (F.col("source") == DSIR_TARGET).cast("bigint")
        ).alias("ct"),
    )
    totals = raw.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    lw = (
        raw.crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.floor(
                (
                    F.log(
                        (F.col("ct") + 1)
                        / (F.col("nt") + F.lit(DSIR_BUCKETS))
                    )
                    - F.log(
                        (F.col("cr") + 1)
                        / (F.col("nr") + F.lit(DSIR_BUCKETS))
                    )
                )
                * F.lit(1e9)
                + F.lit(0.5)
            ).alias("lwq"),
        )
    )
    return (
        btf.join(F.broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            (
                F.sum(F.col("tf") * F.col("lwq")).cast("double")
                / F.lit(1e9)
            ).alias("log_weight"),
        )
    )


ORACLE_DSIR = rf"""
WITH tok AS (
  SELECT doc_id, source,
         (CAST('0x' || substr(md5(t.tok), 1, 15) AS BIGINT)
            % {DSIR_BUCKETS}) AS b
  FROM documents,
       unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t(tok)
),
btf AS (
  SELECT doc_id, b, COUNT(*) AS tf FROM tok GROUP BY doc_id, b
),
raw AS (
  SELECT b, COUNT(*) AS cr,
         SUM(CASE WHEN source = '{DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct
  FROM tok GROUP BY b
),
tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM raw),
lw AS (
  SELECT b,
         CAST(FLOOR((
           ln((ct + 1) / CAST(nt + {DSIR_BUCKETS} AS DOUBLE))
             - ln((cr + 1) / CAST(nr + {DSIR_BUCKETS} AS DOUBLE))
         ) * 1e9 + 0.5) AS BIGINT) AS lwq
  FROM raw, tot
)
SELECT btf.doc_id,
       CAST(SUM(btf.tf) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(btf.tf * lw.lwq) AS BIGINT) AS DOUBLE) / 1e9
         AS log_weight
FROM btf JOIN lw USING (b)
GROUP BY btf.doc_id
"""


register(
    "docs_dsir_weights", docs_dsir_weights, ORACLE_DSIR,
    driver=False,  # r13 rotation: 7 green rounds (r6-r12); pytest-gated now
)


#: hashed feature buckets for the NB quality classifier (fixed size →
#: the model table broadcasts at any corpus size)
NBQ_BUCKETS = 512
#: document-statistic feature slots appended after the token buckets:
#: length bin = min(n_words div 16, 15). Quality classifiers mix
#: lexical features with doc statistics (the fastText-recipe trick);
#: on a corpus whose token distribution is homogeneous the statistic
#: features carry the signal, on a real corpus both do.
NBQ_LEN_BINS = 16
NBQ_LEN_BIN_WIDTH = 16
#: total feature-space size (the add-one smoothing denominator)
NBQ_FEATS = NBQ_BUCKETS + NBQ_LEN_BINS


def _nb_weak_labels(docs: DataFrame) -> DataFrame:
    """(doc_id, toks, rule_good) — the gopher-rule weak labels the NB
    quality model bootstraps from."""
    base = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("toks")
    )
    n_words = F.size("toks")
    n_alpha = F.size(F.filter(F.col("toks"), lambda t: t.rlike("[a-z]")))
    return base.select(
        "doc_id",
        "toks",
        (
            (n_words >= MIN_WORDS)
            & (n_words <= MAX_WORDS)
            & (n_alpha.cast("double") / n_words >= MIN_ALPHA_FRAC)
        ).alias("rule_good"),
    )


def _nb_feature_rows(lab: DataFrame) -> DataFrame:
    """(doc_id, rule_good, bucket, tf) feature rows: hashed token
    buckets + the length-bin doc-statistic slot. Shared between the
    catalog query (train + score in one plan) and the ingest-time
    scorer (streaming/quality_stream.py), which must featurize
    identically to stay bit-equal."""
    tok = lab.select(
        "doc_id", "rule_good", F.explode("toks").alias("tok")
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
        % NBQ_BUCKETS,
    )
    lenf = lab.select(
        "doc_id",
        "rule_good",
        (
            F.lit(NBQ_BUCKETS)
            + F.least(
                F.expr(f"size(toks) div {NBQ_LEN_BIN_WIDTH}"),
                F.lit(NBQ_LEN_BINS - 1),
            )
        ).alias("b"),
        F.lit(1).cast("long").alias("tf"),
    )
    return (
        tok.groupBy("doc_id", "rule_good", "b")
        .agg(F.count("*").alias("tf"))
        .unionByName(lenf)
    )


def _nb_model_frames(
    lab: DataFrame, btf: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The trained model: (per-bucket nano-nat log-ratio weights,
    1-row class-prior log-odds)."""
    cls = btf.groupBy("b").agg(
        F.sum(F.when(F.col("rule_good"), F.col("tf")).otherwise(0)).alias(
            "cg"
        ),
        F.sum(F.when(~F.col("rule_good"), F.col("tf")).otherwise(0)).alias(
            "cb"
        ),
    )
    tot = cls.agg(F.sum("cg").alias("ng"), F.sum("cb").alias("nb"))
    lw = cls.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            (
                F.log((F.col("cg") + 1) / (F.col("ng") + F.lit(NBQ_FEATS)))
                - F.log(
                    (F.col("cb") + 1) / (F.col("nb") + F.lit(NBQ_FEATS))
                )
            )
            * F.lit(1e9)
            + F.lit(0.5)
        ).alias("lwq"),
    )
    prior = lab.agg(
        F.floor(
            (
                F.log(F.sum(F.col("rule_good").cast("bigint")) + 1)
                - F.log(F.sum((~F.col("rule_good")).cast("bigint")) + 1)
            )
            * F.lit(1e9)
            + F.lit(0.5)
        ).alias("lpq")
    )
    return lw, prior


def docs_nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 13: model-based quality filtering — the classifier stage of
    the GPT-3/CCNet recipe (a learned model scores every document;
    rule filters only bootstrap its labels). Weak labels come from the
    gopher-style rule (word-count band + alpha fraction, the
    ``docs_gopher_quality`` constants); a multinomial Naive Bayes over
    hashed bag-of-token features (B = 512 buckets) PLUS 16 document-
    statistic feature slots (length bins — quality classifiers mix
    lexical features with doc statistics, the fastText-recipe trick)
    is trained on those labels in one aggregation pass with add-one
    smoothing; every document is then scored by the full NB log-odds
    (class-prior term + per-feature log-ratios) and classified by its
    sign. The value over the rule itself: the model generalizes from
    the rule's hard thresholds to soft evidence — boundary-bin
    documents get graded scores rather than a cliff (pinned by the
    semantics test), which is why pipelines ship the classifier
    rather than the bootstrap rule.

    Distinct from ``docs_dsir_weights`` (same hashed-unigram machinery,
    different stage): DSIR computes importance weights against a fixed
    target DOMAIN for resampling; this trains a supervised classifier
    on data-derived labels and emits a decision.

    Scale design: token rows reduce to (doc_id, bucket, tf) before any
    join; the class-count model is B rows (broadcast), the prior and
    totals are scalars; scoring is one broadcast join + one doc-keyed
    sum. Determinism: per-bucket log-ratios and the prior are
    quantized to integer nano-nats (the docs_unigram_logprob fix), so
    the per-document reduction is exact order-free integer arithmetic
    and the sign test cannot drift cross-engine."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    lab = _nb_weak_labels(docs)
    btf = _nb_feature_rows(lab)
    lw, prior = _nb_model_frames(lab, btf)
    return (
        btf.join(F.broadcast(lw), "b")
        .groupBy("doc_id", "rule_good")
        .agg(
            F.sum("tf").alias("n_feats"),
            F.sum(F.col("tf") * F.col("lwq")).alias("sq"),
        )
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            "rule_good",
            "n_feats",
            (
                (F.col("sq") + F.col("lpq")).cast("double") / F.lit(1e9)
            ).alias("log_odds"),
            ((F.col("sq") + F.col("lpq")) > 0).alias("pred_good"),
        )
    )


#: the NB model/label CTE chain (base … prior), reusable by composed
#: oracles (corpus_ingest_pipeline chains it after the decontam CTEs)
NB_QUALITY_CTES = rf"""base AS (
  SELECT doc_id,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents
),
lab AS (
  SELECT doc_id, toks,
         (len(toks) >= {MIN_WORDS} AND len(toks) <= {MAX_WORDS}
          AND CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                AS DOUBLE) / len(toks) >= {MIN_ALPHA_FRAC}) AS rule_good
  FROM base
),
tok AS (
  SELECT doc_id, rule_good,
         (CAST('0x' || substr(md5(t.tok), 1, 15) AS BIGINT)
            % {NBQ_BUCKETS}) AS b
  FROM lab, unnest(toks) AS t(tok)
),
btf AS (
  SELECT doc_id, rule_good, b, COUNT(*) AS tf
  FROM tok GROUP BY doc_id, rule_good, b
  UNION ALL
  SELECT doc_id, rule_good,
         {NBQ_BUCKETS} + LEAST(len(toks) // {NBQ_LEN_BIN_WIDTH},
                               {NBQ_LEN_BINS - 1}) AS b,
         1 AS tf
  FROM lab
),
cls AS (
  SELECT b, SUM(CASE WHEN rule_good THEN tf ELSE 0 END) AS cg,
         SUM(CASE WHEN NOT rule_good THEN tf ELSE 0 END) AS cb
  FROM btf GROUP BY b
),
tot AS (SELECT SUM(cg) AS ng, SUM(cb) AS nb FROM cls),
lw AS (
  SELECT b,
         CAST(FLOOR((
           ln((cg + 1) / CAST(ng + {NBQ_FEATS} AS DOUBLE))
             - ln((cb + 1) / CAST(nb + {NBQ_FEATS} AS DOUBLE))
         ) * 1e9 + 0.5) AS BIGINT) AS lwq
  FROM cls, tot
),
prior AS (
  SELECT CAST(FLOOR((
           ln(SUM(CASE WHEN rule_good THEN 1 ELSE 0 END) + 1)
             - ln(SUM(CASE WHEN NOT rule_good THEN 1 ELSE 0 END) + 1)
         ) * 1e9 + 0.5) AS BIGINT) AS lpq
  FROM lab
)"""

#: per-doc scoring select over the CTE chain (no trailing semicolon so
#: composed oracles can wrap it as a further CTE)
NB_QUALITY_SELECT = """SELECT btf.doc_id,
       ANY_VALUE(btf.rule_good) AS rule_good,
       CAST(SUM(btf.tf) AS BIGINT) AS n_feats,
       CAST(CAST(SUM(btf.tf * lw.lwq) AS BIGINT)
              + ANY_VALUE(prior.lpq) AS DOUBLE) / 1e9 AS log_odds,
       (CAST(SUM(btf.tf * lw.lwq) AS BIGINT)
          + ANY_VALUE(prior.lpq)) > 0 AS pred_good
FROM btf JOIN lw USING (b), prior
GROUP BY btf.doc_id"""

ORACLE_NB_QUALITY = f"""
WITH {NB_QUALITY_CTES}
{NB_QUALITY_SELECT}
"""


register(
    "docs_nb_quality_classifier",
    docs_nb_quality_classifier,
    ORACLE_NB_QUALITY,
    # r14 rotation: promoted into the driver gate (never-verified pool)
    driver=True,
)


def docs_logprob_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 6: CCNet-style head/middle/tail quality buckets — the
    standard LM-filtering recipe (Wenzek et al. 2020): rank each
    document within its LANGUAGE by the unigram-LM score
    (:func:`docs_unigram_logprob` — higher avg log-prob reads as more
    "normal" text) and split the ranking into terciles; pipelines
    keep head+middle and drop (or downweight) the tail.

    Determinism: the score itself is bit-exact cross-engine (nano-nat
    quantized — see docs_unigram_logprob), the rank breaks ties by
    doc_id, and the tercile boundary is explicit integer arithmetic
    (3*(rank-1)/n), not NTILE, so engines cannot disagree on bucket
    edges.

    Scale: one extra (lang) window over the scored docs — lang
    cardinality is tiny so the partitions are wide; at 100 TB the
    same recipe runs per (lang, shard) or replaces row_number with a
    two-pass approximate-quantile cut; this exact form is the oracle-
    checkable baseline."""
    scored = docs_unigram_logprob(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), "doc_id"
    )
    ranked = (
        scored.join(docs, "doc_id")
        .withColumn("ppl_rank", F.row_number().over(w))
        .withColumn(
            "n_lang", F.count(F.lit(1)).over(Window.partitionBy("lang"))
        )
    )
    tier = F.floor(
        (F.lit(3) * (F.col("ppl_rank") - F.lit(1))) / F.col("n_lang")
    )
    return ranked.select(
        "doc_id",
        "lang",
        "ppl_rank",
        F.when(tier == 0, F.lit("head"))
        .when(tier == 1, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


ORACLE_LOGPROB_BUCKETS = f"""
WITH scored AS ({ORACLE_UNIGRAM}),
ranked AS (
  SELECT s.doc_id, d.lang,
         ROW_NUMBER() OVER (PARTITION BY d.lang
                            ORDER BY s.avg_logprob DESC, s.doc_id)
           AS ppl_rank,
         COUNT(*) OVER (PARTITION BY d.lang) AS n_lang
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, ppl_rank,
       CASE CAST(FLOOR((3 * (ppl_rank - 1)) / CAST(n_lang AS DOUBLE))
                 AS BIGINT)
            WHEN 0 THEN 'head'
            WHEN 1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
"""


register(
    "docs_logprob_buckets",
    docs_logprob_buckets,
    ORACLE_LOGPROB_BUCKETS,
    # r7 rotation: promoted (never-driver-verified pool)
)


#: C4/CCNet-style boilerplate removal knobs: documents segment into
#: fixed word windows (the corpus has no newline structure; a real
#: deployment swaps the segmenter for line/sentence splits — the
#: Spark plumbing is identical), and a segment repeated across many
#: documents is boilerplate.
SEG_WORDS = 10
BOILER_DF = 3


def docs_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level segment (pseudo-line) dedup — the C4 "three
    sentence" / CCNet paragraph-hash boilerplate-removal step
    (round 8): split every document into ``SEG_WORDS``-word segments,
    hash each (md5 — at 100 TB the hash IS the shuffle key, never the
    raw text), count each hash's DOCUMENT frequency, and drop
    segments appearing in ≥ ``BOILER_DF`` distinct documents. Output:
    per-doc segment counts and an md5 digest of the kept text
    (segments in original order), so the cleaning is byte-pinned.

    Plan shape: scan → codegen segmenter (transform + slice, no
    Python) → ONE shuffle keyed on the segment hash for the df count
    (map-side combined countDistinct) → hash join back → per-doc agg.
    No collect, no UDF; the df table is corpus-sized but
    hash-partitioned — the 100 TB profile of MinHash-LSH's band
    join."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    words = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(words) / F.lit(SEG_WORDS)).cast("int")
    segs = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n_seg - 1, F.lit(0))),
                    lambda i: F.concat_ws(
                        " ",
                        F.slice(
                            words,
                            i * SEG_WORDS + F.lit(1),
                            F.lit(SEG_WORDS),
                        ),
                    ),
                )
            ).alias("seg_id", "seg"),
        )
        .withColumn("h", F.md5("seg"))
    )
    dfreq = segs.groupBy("h").agg(
        F.countDistinct("doc_id").alias("seg_df")
    )
    joined = segs.join(dfreq, "h")
    kept = F.when(
        F.col("seg_df") < BOILER_DF, F.struct("seg_id", "seg")
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_seg"),
        F.sum(
            F.when(F.col("seg_df") >= BOILER_DF, 1).otherwise(0)
        ).cast("long").alias("n_boiler"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept)),
                    lambda x: x["seg"],
                ),
            )
        ).alias("kept_md5"),
    )


ORACLE_SEGMENT_DEDUP = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
s AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS seg_id,
         array_to_string(
           words[CAST(i * {SEG_WORDS} + 1 AS BIGINT)
                 : CAST(i * {SEG_WORDS} + {SEG_WORDS} AS BIGINT)],
           ' '
         ) AS seg
  FROM d,
       unnest(range(0, greatest(
         CAST(ceil(len(words) / {SEG_WORDS}.0) AS BIGINT), 1))) AS t(i)
),
h AS (SELECT *, md5(seg) AS hh FROM s),
f AS (
  SELECT *, COUNT(DISTINCT doc_id) OVER (PARTITION BY hh) AS seg_df
  FROM h
)
SELECT doc_id,
       COUNT(*) AS n_seg,
       COUNT(CASE WHEN seg_df >= {BOILER_DF} THEN 1 END) AS n_boiler,
       md5(COALESCE(
         string_agg(seg, ' ' ORDER BY seg_id)
           FILTER (WHERE seg_df < {BOILER_DF}),
         ''
       )) AS kept_md5
FROM f GROUP BY doc_id
"""


register(
    "docs_segment_dedup",
    docs_segment_dedup,
    ORACLE_SEGMENT_DEDUP,
    # round 8: C4-style boilerplate segment removal — into the gate
)

TOP_BOILER = 20


def corpus_boilerplate_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate REPORT view over the same segmenter as
    :func:`docs_segment_dedup`: the ``TOP_BOILER`` most-repeated
    segments by document frequency (df ≥ 2), with a deterministic
    representative text per hash. One map-side-combined shuffle plus a
    bounded TakeOrdered — the audit a curation run prints before
    committing to a removal threshold."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    words = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(words) / F.lit(SEG_WORDS)).cast("int")
    segs = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n_seg - 1, F.lit(0))),
                lambda i: F.concat_ws(
                    " ",
                    F.slice(
                        words, i * SEG_WORDS + F.lit(1), F.lit(SEG_WORDS)
                    ),
                ),
            )
        ).alias("seg"),
    ).withColumn("h", F.md5("seg"))
    return (
        segs.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("seg_df"),
            F.min("seg").alias("seg"),
        )
        .filter(F.col("seg_df") >= 2)
        .orderBy(F.desc("seg_df"), F.asc("h"))
        .limit(TOP_BOILER)
        .select("h", "seg", F.col("seg_df").cast("long").alias("seg_df"))
    )


ORACLE_BOILERPLATE_TOPK = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
s AS (
  SELECT doc_id,
         array_to_string(
           words[CAST(i * {SEG_WORDS} + 1 AS BIGINT)
                 : CAST(i * {SEG_WORDS} + {SEG_WORDS} AS BIGINT)],
           ' '
         ) AS seg
  FROM d,
       unnest(range(0, greatest(
         CAST(ceil(len(words) / {SEG_WORDS}.0) AS BIGINT), 1))) AS t(i)
),
g AS (
  SELECT md5(seg) AS h, COUNT(DISTINCT doc_id) AS seg_df,
         MIN(seg) AS seg
  FROM s GROUP BY md5(seg)
)
SELECT h, seg, seg_df FROM g
WHERE seg_df >= 2
ORDER BY seg_df DESC, h ASC
LIMIT {TOP_BOILER}
"""


register(
    "corpus_boilerplate_topk",
    corpus_boilerplate_topk,
    ORACLE_BOILERPLATE_TOPK,
    # r9 rotation: promoted from the never-verified pool
)
