"""Text-analysis operators over documents (SURVEY.md §2C C4).

Token statistics, per-document quality scores, stopword-ratio language ID,
content fingerprinting. Pure JVM higher-order-function expressions
(transform/filter/aggregate over token arrays) — no Python UDFs in the hot
path, so whole-stage codegen covers everything — with two deliberate
exceptions that genuinely need a parser: HTML boilerplate stripping
(``html_extract_main``) and SubRip caption parsing
(``srt_caption_stats``), both Arrow-batched ``mapInPandas``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipeline_kinesis_spark.functions.exprs import tokens
from pipeline_kinesis_spark.io import load, spread
from pipeline_kinesis_spark.operators import QuerySpec

# Tiny function-word list used by the stopword-ratio language heuristic.
STOPWORDS = ("the", "a", "of", "and", "to", "in")


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per (lang, source): one scan + one small
    groupBy; at 100 TB the group count is bounded (langs × sources)."""
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks").cast("long")).alias("total_tokens"),
        F.round(F.avg(F.size("toks")), 6).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.max(F.size("toks").cast("long")).alias("max_tokens"),
    )


TOKEN_STATS_SQL = r"""
SELECT
  lang,
  source,
  count(*) AS n_docs,
  CAST(sum(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS total_tokens,
  round(avg(len(string_split_regex(trim(text), '\s+'))), 6) AS avg_tokens,
  round(avg(n_chars), 6) AS avg_chars,
  CAST(max(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY lang, source
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, vocabulary ratio, mean
    token length, stopword ratio — the standard pretraining-filter
    features."""
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    n_toks = F.size("toks")
    n_distinct = F.size(F.array_distinct("toks"))
    tok_chars = F.aggregate(
        F.transform("toks", lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_stop = F.size(
        F.filter("toks", lambda t: t.isin(*STOPWORDS))
    )
    return d.select(
        "doc_id",
        "lang",
        n_toks.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct"),
        F.round(n_distinct / n_toks, 6).alias("uniq_ratio"),
        F.round(tok_chars / n_toks, 6).alias("avg_tok_len"),
        F.round(n_stop / n_toks, 6).alias("stopword_ratio"),
    )


TEXT_QUALITY_SQL = r"""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
)
SELECT
  doc_id,
  lang,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
  round(len(list_distinct(toks)) / len(toks), 6) AS uniq_ratio,
  round(list_aggregate(list_transform(toks, x -> length(x)), 'sum') / len(toks), 6) AS avg_tok_len,
  round(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) / len(toks), 6) AS stopword_ratio
FROM t
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID: docs whose English-function-word ratio
    clears a threshold are tagged 'en'. Compared against the labeled lang
    column to report a confusion summary."""
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    ratio = F.size(
        F.filter("toks", lambda t: t.isin(*STOPWORDS))
    ) / F.size("toks")
    pred = F.when(ratio > 0.05, "en").otherwise("other")
    return (
        d.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


LANG_ID_SQL = r"""
WITH t AS (
  SELECT lang, string_split_regex(trim(text), '\s+') AS toks FROM documents
)
SELECT lang, pred_lang, count(*) AS n
FROM (
  SELECT lang,
         CASE WHEN len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
                   / len(toks) > 0.05
              THEN 'en' ELSE 'other' END AS pred_lang
  FROM t
)
GROUP BY lang, pred_lang
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint + duplicate-family size per document (C1/C4)."""
    d = load(spark, sf_dir, "documents")
    fp = F.sha2(F.lower(F.trim("text")), 256)
    w = Window.partitionBy("fingerprint")
    return (
        d.withColumn("fingerprint", fp)
        .select(
            "doc_id",
            "fingerprint",
            F.count(F.lit(1)).over(w).alias("family_size"),
        )
    )


DOC_FINGERPRINT_SQL = """
SELECT
  doc_id,
  sha256(lower(trim(text))) AS fingerprint,
  count(*) OVER (PARTITION BY sha256(lower(trim(text)))) AS family_size
FROM documents
"""


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword-boundary token counting: words + standalone
    punctuation via regexp_extract_all — the pretokenization regex family
    GPT-style BPE uses, simplified to [letters|digits|punct]."""
    d = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(
        F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
    )
    return d.groupBy("lang").agg(
        F.sum(F.size(toks)).cast("long").alias("total_bpe_tokens"),
        F.round(F.avg(F.size(toks)), 6).alias("avg_bpe_tokens"),
        F.max(F.size(toks)).cast("long").alias("max_bpe_tokens"),
    )


TOKEN_COUNT_BPE_SQL = r"""
SELECT
  lang,
  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens,
  round(avg(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 6) AS avg_bpe_tokens,
  CAST(max(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS max_bpe_tokens
FROM documents
GROUP BY lang
"""


def _winnow_fp_rows(d: DataFrame, k: int, w: int) -> DataFrame:
    """(doc_id, fingerprints) via codegen'd ROWS (r16).

    The r15 array form computed the k-char-gram hashes and the
    window mins as nested transform() lambdas; higher-order functions
    are CodegenFallback, so both passes ran per element in the
    interpreted evaluator — 162 warm CPU-s at sf1, the heaviest row in
    the registry. This form explodes char positions to rows (the
    substring+xxhash64 fuses into the stage's generated loop, exactly
    the exprs.ngram_rows argument), takes the w-window min as a
    codegen'd sliding window frame over the doc_id-partitioned rows
    (doc-sized groups — skew-safe, and the spread partitioning means
    no exchange), and restores the array form with a first-occurrence
    sort: array_distinct keeps elements in FIRST-OCCURRENCE order, and
    the first occurrence of each min value is exactly its minimal
    window index, so sorting (first_j, value) structs rebuilds the
    identical array. Docs with no grams or no windows keep their empty
    array: the explode is outer (one NULL-position row survives for
    gram-less docs), non-window rows null out their min instead of
    being filtered (so every doc reaches the final aggregate), and
    collect_list skips nulls — yielding [] exactly like the old
    transform over an empty index sequence. Verified row-identical
    (arrays included) against the r15 form at sf0.1 and by the winnow
    pytest battery.

    Expects d = (doc_id, _low) already spread on doc_id.
    """
    n_grams = F.greatest(F.length("_low") - (k - 1), F.lit(0))
    rows = d.select(
        "doc_id",
        "_low",
        n_grams.alias("_ng"),
        F.explode_outer(
            F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams))
        ).alias("i"),
    ).select(
        "doc_id",
        "_ng",
        "i",
        F.when(
            F.col("i").isNotNull(),
            F.xxhash64(F.expr(f"substring(_low, i, {k})")),
        ).alias("h"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, w - 1)
    )
    wmin = rows.select(
        "doc_id",
        "i",
        F.when(
            F.col("i").isNotNull()
            & (F.col("i") <= F.col("_ng") - (w - 1)),
            F.min("h").over(win),
        ).alias("m"),
    )
    first = wmin.groupBy("doc_id", "m").agg(F.min("i").alias("fj"))
    return first.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("m").isNotNull(), F.struct("fj", "m")
                    )
                )
            ),
            lambda x: x["m"],
        ).alias("fingerprints")
    )


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    k-char-gram, keep the minimum hash in each sliding window of w hashes
    → a position-robust fingerprint set, the rolling-hash dedup primitive.

    All JVM expressions over the char sequence; no UDFs. No
    oracle (xxhash64 is engine-specific) — determinism + containment are
    asserted in tests; output-identity vs the r15 array form checked at
    sf0.1 (see _winnow_fp_rows).
    """
    k, w = 8, 4
    # r15: materialize the lowered text ONCE per row (the old inlined
    # lower(trim(text)) re-ran per char position inside the interpreted
    # lambda — O(len²) per document). r16: the gram/window passes are
    # codegen'd rows (_winnow_fp_rows).
    d = spread(load(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.expr("lower(trim(text))").alias("_low")
    )
    fp = _winnow_fp_rows(d, k, w)
    return fp.select(
        "doc_id",
        F.size("fingerprints").cast("long").alias("n_fingerprints"),
        "fingerprints",
    )


def winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate row for winnowing via the exact+within-bound pattern (the
    fingerprints themselves are xxhash64-valued, engine-specific). Per
    doc: the DuckDB-computable gram/window counts, plus Spark-verified
    booleans that the fingerprint set respects the scheme's structural
    guarantees — between 1 and n_windows fingerprints whenever at least
    one window exists (every window contributes its min; dedup can only
    shrink), and every fingerprint is one of the doc's gram hashes
    (mins are elements, not synthetic values)."""
    k, w = 8, 4
    d = spread(load(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.expr("lower(trim(text))").alias("_low")
    )
    # the fingerprints come from the same codegen'd rows as
    # winnow_fingerprints; the gram-hash array (the containment check's
    # reference set) is built only when at least one gram exists —
    # sequence(1, 0) counts DOWN, so an unguarded short document would
    # hash a phantom gram at position 0
    n = F.length("_low") - (k - 1)
    grams = F.when(
        n >= 1,
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.xxhash64(F.substring("_low", i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    d = d.withColumn("_g", grams).join(
        _winnow_fp_rows(d, k, w).withColumnRenamed("fingerprints", "_fp"),
        "doc_id",
    )
    # counts from the text length, as WINNOW_STATS_SQL computes them
    n_grams = F.greatest(n, F.lit(0)).cast("long")
    n_windows = F.greatest(n_grams - (w - 1), F.lit(0))
    n_fp = F.size("_fp").cast("long")
    return d.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_windows.alias("n_windows"),
        F.when(n_windows >= 1, (n_fp >= 1) & (n_fp <= n_windows))
        .otherwise(n_fp == 0)
        .alias("count_in_bounds"),
        # r16: forall(_fp, array_contains(_g, x)) evaluated an
        # interpreted O(|_g|) scan per fingerprint — O(len^2/w) per doc,
        # 71 of this row's 233 warm CPU-s at sf1. array_except builds
        # one hash set over _g per doc instead: O(len). Identical
        # boolean (hash values are never null; empty _fp => empty
        # except-result => true, same as forall over an empty array).
        (F.size(F.array_except("_fp", "_g")) == 0).alias(
            "fingerprints_contained"
        ),
    )


WINNOW_STATS_SQL = """
SELECT
  doc_id,
  CAST(greatest(length(lower(trim(text))) - 7, 0) AS BIGINT) AS n_grams,
  CAST(greatest(greatest(length(lower(trim(text))) - 7, 0) - 3, 0)
    AS BIGINT) AS n_windows,
  TRUE AS count_in_bounds,
  TRUE AS fingerprints_contained
FROM documents
"""


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pretraining-corpus pipeline in ONE declarative plan:
    quality gate → language gate → exact near-dup removal → per-doc stats
    (C1+C4 composed — the shape a 100 TB training-data job actually runs).

    Scale discipline: both filters are narrow and run BEFORE the only
    shuffle (the dedup window on the content hash, uniformly distributed
    by construction); Catalyst collapses the whole thing into scan →
    filter → one exchange → window → filter.
    """
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    n_toks = F.size("toks")
    stop_ratio = F.size(
        F.filter("toks", lambda t: t.isin(*STOPWORDS))
    ) / n_toks
    gated = (
        d.withColumn("n_tokens", n_toks.cast("long"))
        .withColumn("stop_ratio", stop_ratio)
        .filter((F.col("n_tokens") >= 10) & (F.col("stop_ratio") > 0.03))
        .withColumn(
            "fingerprint", F.sha2(F.lower(F.trim("text")), 256)
        )
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            "source",
            "n_tokens",
            F.round("stop_ratio", 6).alias("stop_ratio"),
        )
    )


CORPUS_CLEAN_SQL = r"""
WITH gated AS (
  SELECT
    doc_id, lang, source, text,
    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
    len(list_filter(string_split_regex(trim(text), '\s+'),
                    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
      / len(string_split_regex(trim(text), '\s+')) AS stop_ratio
  FROM documents
)
SELECT doc_id, lang, source, n_tokens, round(stop_ratio, 6) AS stop_ratio
FROM gated
WHERE n_tokens >= 10 AND stop_ratio > 0.03
QUALIFY row_number() OVER (
  PARTITION BY sha256(lower(trim(text))) ORDER BY doc_id
) = 1
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top-3 terms (C4 "tf-idf"; SURVEY.md §2C).

    Shape at 100 TB: tf is a (doc_id, term) groupBy — key space is the
    corpus itself, hash-partitions evenly; df is a term-keyed groupBy
    (vocabulary-sized, Zipf-skewed but AQE handles the head); the tf⋈df
    join shuffles on term; the corpus doc count joins in as a 1-row
    broadcast. Ranking is a per-doc window — same partitioning as tf, so
    AQE can reuse the exchange. tfidf is rounded BEFORE ranking on both
    sides so the order is ULP-stable across engines; ties break on term.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


TFIDF_TOP_TERMS_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT
    tf.doc_id, tf.term, tf.tf, df.df,
    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term
  ) AS rnk
  FROM scored
)
WHERE rnk <= 3
"""


def ngram_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 token bigrams per language (C4 "n-grams"; SURVEY.md §2C).

    Bigrams are built JVM-side with zip_with over two shifted slices of
    the token array (no UDF, stays in codegen), then one (lang, bigram)
    groupBy — the heavy reduce keys on the bigram space, Zipf-skewed at
    the head, which is exactly what AQE skew handling + partial (map-side)
    aggregation absorb. The final per-lang top-5 window touches only the
    already-reduced counts.
    """
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens("text"))
    bigrams = F.zip_with(
        F.slice("toks", 1, F.size("toks") - 1),
        F.slice("toks", 2, F.size("toks") - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    counts = (
        d.filter(F.size("toks") >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("lang", "bigram", "cnt", "rnk")
    )


NGRAM_TOP_BIGRAMS_SQL = r"""
WITH d AS (
  SELECT lang, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
),
b AS (
  SELECT lang, toks[i] || ' ' || toks[i + 1] AS bigram
  FROM d, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
),
counts AS (
  SELECT lang, bigram, count(*) AS cnt FROM b GROUP BY lang, bigram
)
SELECT lang, bigram, cnt, rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY lang ORDER BY cnt DESC, bigram
  ) AS rnk
  FROM counts
)
WHERE rnk <= 5
"""


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split + per-split profile — the
    reproducible-split primitive of a training-data pipeline.

    The split comes from a Knuth multiplicative hash on doc_id in plain
    integer arithmetic (no engine-specific hash), so the same document
    lands in the same split in ANY engine — which is also what makes it
    oracle-checkable. doc_id is folded mod 1e6+3 first to keep the
    product in signed-64 range (DuckDB errors on overflow; Spark wraps).
    Embarrassingly parallel: one narrow projection, one small groupBy.
    """
    d = load(spark, sf_dir, "documents")
    bucket = (
        (F.col("doc_id") % 1000003) * F.lit(2654435761).cast("long")
    ) % 4294967296 % 100
    split = (
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


DATASET_SPLIT_SQL = """
WITH assigned AS (
  SELECT
    lang, n_chars, doc_id,
    ((doc_id % 1000003) * 2654435761) % 4294967296 % 100 AS bucket
  FROM documents
)
SELECT
  CASE WHEN bucket < 90 THEN 'train'
       WHEN bucket < 95 THEN 'val'
       ELSE 'test' END AS split,
  lang,
  count(*) AS n_docs,
  round(avg(n_chars), 6) AS avg_chars,
  min(doc_id) AS min_doc_id,
  max(doc_id) AS max_doc_id
FROM assigned
GROUP BY 1, 2
"""


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenization text normalization (the step every corpus
    pipeline runs before dedup/tokenization): strip HTML-ish tags,
    collapse whitespace runs, trim, lowercase. Emits the normalized
    text plus audit columns (chars removed, whether anything changed).

    Scale shape: pure row-local regexp_replace chain inside one scan —
    whole-stage codegen, zero shuffles besides none (the output is
    row-per-doc with no aggregate). Identical RE2-compatible patterns on
    both engines.
    """
    d = load(spark, sf_dir, "documents")
    stripped = F.regexp_replace("text", "<[^>]*>", " ")
    collapsed = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    norm = F.lower(collapsed)
    return d.select(
        "doc_id",
        norm.alias("text_norm"),
        (F.length("text") - F.length(norm)).cast("long").alias(
            "chars_removed"
        ),
        (norm != F.col("text")).alias("changed"),
    )


TEXT_NORMALIZE_SQL = r"""
WITH n AS (
  SELECT doc_id, text,
         lower(trim(regexp_replace(
           regexp_replace(text, '<[^>]*>', ' ', 'g'),
           '\s+', ' ', 'g'))) AS text_norm
  FROM documents
)
SELECT doc_id, text_norm,
       CAST(length(text) - length(text_norm) AS BIGINT) AS chars_removed,
       text_norm <> text AS changed
FROM n
"""


# ---------------------------------------------------------- chunking
# Context-window chunking for LLM training: split each document into
# overlapping token windows (size CHUNK_W, stride CHUNK_S) — the
# standard prep step before sequence packing. One narrow projection,
# one explode of O(words/stride) chunk starts per doc, everything JVM
# higher-order functions: embarrassingly parallel at any corpus size,
# no shuffle at all.
CHUNK_W = 32
CHUNK_S = 24


def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks per document. Output one row per
    chunk with its index, token count and content hash (md5 keeps the
    compared payload small and engine-neutral). Scale shape: a pure
    map-side explode — chunk rows never shuffle; downstream packing
    (sequence_pack) is where grouping happens."""
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("ws"))
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("ws") - 1, F.lit(0)),
        F.lit(CHUNK_S),
    )
    c = d.select(
        "doc_id", "ws", F.explode(starts).alias("start")
    ).select(
        "doc_id",
        (F.col("start") / CHUNK_S).cast("long").alias("chunk_idx"),
        F.slice(F.col("ws"), F.col("start") + 1, CHUNK_W).alias("chunk"),
    )
    return c.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_md5"),
    )


DOC_CHUNK_SQL = rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
  FROM documents
),
s AS (
  -- range() is end-exclusive, so range(0, len, S) == Spark's
  -- sequence(0, len-1, S); greatest(len, 1) keeps one chunk for
  -- empty docs on both engines
  SELECT doc_id, ws,
         unnest(range(0, greatest(len(ws), 1), {CHUNK_S})) AS start
  FROM w
)
SELECT doc_id,
       CAST(start / {CHUNK_S} AS BIGINT) AS chunk_idx,
       CAST(len(ws[start + 1 : start + {CHUNK_W}]) AS BIGINT) AS n_tokens,
       md5(array_to_string(ws[start + 1 : start + {CHUNK_W}], ' '))
         AS chunk_md5
FROM s
"""


# ----------------------------------------------------- vocabulary OOV
# Vocabulary-coverage filtering: score each document by its
# out-of-vocabulary rate against the corpus's own top-K word vocabulary
# (the cheap proxy for "will the tokenizer shred this doc"). Two
# bounded aggregates: word counts (map-side combined), a K-row
# TakeOrderedAndProject for the vocab, then a BROADCAST membership
# check per token — no shuffle carries doc text, integer arithmetic
# end to end (rate in basis points) so the oracle matches bit-for-bit.
# K=16 against this synthetic corpus's 31-word vocabulary keeps the
# OOV signal non-trivial (≈half the type inventory lands out-of-vocab);
# production would use a BPE-derived vocab orders of magnitude larger —
# the plan shape (bounded top-K + broadcast membership) is unchanged.
OOV_VOCAB_K = 16
OOV_BP_THRESHOLD = 2500  # flag docs with >25% OOV tokens


def oov_rate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", tokens("text").alias("ws"))
    )
    words = d.select(F.explode("ws").alias("w"))
    vocab = (
        words.groupBy("w")
        .count()
        .orderBy(F.desc("count"), F.asc("w"))
        .limit(OOV_VOCAB_K)
        .select("w")
    )
    vset = F.array(
        *[F.lit(r.w) for r in vocab.collect()]
    )  # K=OOV_VOCAB_K driver-side constants → codegen membership test
    # n_tokens=0 ⇒ oov_bp is NULL (division by zero): max()/sum() skip
    # NULLs in both Spark and DuckDB, so the twins agree bit-for-bit —
    # an all-whitespace document contributes to n_docs only.
    scored = d.select(
        "doc_id",
        "lang",
        F.size("ws").cast("long").alias("n_tokens"),
        F.size(
            F.filter("ws", lambda t: ~F.array_contains(vset, t))
        )
        .cast("long")
        .alias("n_oov"),
    ).withColumn(
        "oov_bp",
        F.floor(F.col("n_oov") * 10000 / F.col("n_tokens")).cast("long"),
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_oov").alias("total_oov"),
        F.max("oov_bp").alias("max_oov_bp"),
        F.sum(
            F.when(F.col("oov_bp") > OOV_BP_THRESHOLD, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_flagged"),
    )


OOV_RATE_SQL = rf"""
WITH d AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
  FROM documents
),
vocab AS (
  SELECT w
  FROM (
    SELECT unnest(ws) AS w FROM d
  ) GROUP BY w
  ORDER BY count(*) DESC, w ASC
  LIMIT {OOV_VOCAB_K}
),
scored AS (
  SELECT doc_id, lang,
         CAST(len(ws) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(ws, t -> NOT list_contains(vl.l, t)))
              AS BIGINT) AS n_oov
  FROM d, (SELECT list(w) AS l FROM vocab) vl
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_oov) AS BIGINT) AS total_oov,
       CAST(max(CAST(floor(n_oov * 10000 / n_tokens) AS BIGINT)) AS BIGINT)
         AS max_oov_bp,
       CAST(sum(CASE WHEN floor(n_oov * 10000 / n_tokens)
                          > {OOV_BP_THRESHOLD}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM scored
GROUP BY lang
"""


# subtrees a main-content extractor always drops (the trafilatura-style
# boilerplate set expressible with tag structure alone)
_HTML_SKIP_TAGS = frozenset(
    {"script", "style", "nav", "header", "footer", "aside"}
)


from html.parser import HTMLParser as _HTMLParser


class _MainTextParser(_HTMLParser):
    """Text nodes inside ``<main>`` excluding any ``_HTML_SKIP_TAGS``
    subtree; BOTH trackers are depth counters so nested/stray closers
    of either kind never truncate or leak content. Module-level (not
    per-call) — ``extract_main_text`` runs once per document in the
    Arrow-batched hot path."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.skip_depth = 0
        self.main_depth = 0
        self.parts: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag in _HTML_SKIP_TAGS:
            self.skip_depth += 1
        elif tag == "main":
            self.main_depth += 1

    def handle_endtag(self, tag):
        if tag in _HTML_SKIP_TAGS and self.skip_depth:
            self.skip_depth -= 1
        elif tag == "main" and self.main_depth:
            self.main_depth -= 1

    def handle_data(self, data):
        if self.main_depth and not self.skip_depth:
            self.parts.append(data)


def extract_main_text(page: str) -> str:
    """Stack-based main-content extraction over stdlib ``html.parser``:
    text nodes inside ``<main>`` excluding any ``_HTML_SKIP_TAGS``
    subtree (nesting-aware on both), entities resolved."""
    p = _MainTextParser()
    p.feed(page)
    p.close()
    return "".join(p.parts)


def wrap_in_chrome(did: int, text: str) -> str:
    """Deterministic page chrome around ``text`` (html-escaped): head
    with script/style, nav with ``did``-dependent link count, comments,
    an aside nested INSIDE main, and a footer — everything an extractor
    must drop."""
    import html as _html

    links = "".join(
        f'<li><a href="/p/{did}/{k}">item {k}</a></li>'
        for k in range(did % 5)
    )
    return (
        "<!DOCTYPE html><html><head><title>doc</title>"
        f"<script>var x = {did} < 9 && true;</script>"
        "<style>.ad { display: none }</style></head><body>"
        f"<header><h1>site {did % 7}</h1></header>"
        f"<nav><ul>{links}</ul></nav>"
        "<!-- boilerplate comment -->"
        f"<main><aside>related {did}</aside>"
        f"<p>{_html.escape(text)}</p></main>"
        f"<footer>&copy; {1990 + did % 30}</footer></body></html>"
    )


def html_extract_main(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus boilerplate stripping (C4): every document is wrapped
    in deterministic HTML chrome — head/script/style blocks, a nav with
    doc_id-dependent link counts, HTML comments, a footer, and an
    ``<aside>`` NESTED inside ``<main>`` — with the real ``text``
    html-escaped into the main ``<p>``. A stack-based stdlib
    ``html.parser`` extractor (Arrow-batched ``mapInPandas`` — HTML
    parsing is the legitimate non-SQL exception to this module's
    JVM-only rule) drops the boilerplate subtrees and recovers the main
    content; the operator reports per-language doc counts, extracted
    character sums, and EXACT-match counts against the original text.
    The DuckDB oracle knows extraction must be lossless, so it computes
    the same aggregates from ``text`` directly — any parser slip
    (entity mishandling, a skipped-subtree leak, whitespace mangling)
    breaks either the char sum or the match count and hash-fails the
    gate. Scale shape: one scan, parse confined to executor batches,
    shuffle carries (lang, 3 ints)."""
    # r16: spread before the Python boundary — the sf1 sweep showed this
    # operator's whole decode serialized on ONE Python worker (single
    # input split; JVM CPU ~0.5 s vs wall 6.3 s: the work is all in the
    # worker, invisible to the JVM clock). The shuffle moves only the
    # narrow pre-decode columns; layout-aware spread() skips itself on
    # a real multi-split layout. Downstream aggregates are
    # order-independent, output identical.
    d = spread(
        load(spark, sf_dir, "documents").select("doc_id", "lang", "text"),
        "doc_id",
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for did, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                text = text or ""
                got = extract_main_text(wrap_in_chrome(int(did), text))
                recs.append(
                    (lang, len(got), int(got == text))
                )
            yield pd.DataFrame(
                recs, columns=["lang", "n_chars", "exact"]
            )

    stats = d.mapInPandas(
        run, "lang STRING, n_chars BIGINT, exact BIGINT"
    )
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("extracted_chars"),
        F.sum("exact").alias("exact_matches"),
    )


# extraction must be lossless, so the oracle aggregates the original
# text column directly — equality only holds if the parser is right
HTML_EXTRACT_MAIN_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(text)) AS BIGINT) AS extracted_chars,
       CAST(count(*) AS BIGINT) AS exact_matches
FROM documents
GROUP BY lang
"""


def format_srt_timestamp(ms: int) -> str:
    """``HH:MM:SS,mmm`` (SubRip's comma convention)."""
    s, ms = divmod(ms, 1000)
    m, s = divmod(s, 60)
    h, m = divmod(m, 60)
    return f"{h:02d}:{m:02d}:{s:02d},{ms:03d}"


def _timing_groups_to_ms(groups) -> tuple[int, int]:
    """8 regex groups (h?, m, s, ms twice; hours may be None for VTT's
    short form) → (start_ms, end_ms). Shared by both caption parsers so
    the ms math cannot drift between formats."""
    g = [int(v) if v is not None else 0 for v in groups]
    start = ((g[0] * 60 + g[1]) * 60 + g[2]) * 1000 + g[3]
    end = ((g[4] * 60 + g[5]) * 60 + g[6]) * 1000 + g[7]
    return start, end


def parse_srt(payload: str) -> list[tuple[int, int, int, str]]:
    """SubRip parser: ``(index, start_ms, end_ms, text)`` per cue.
    Cues are blank-line separated; multi-line cue text is preserved
    verbatim (joined with ``\\n``)."""
    import re

    ts = r"(\d+):(\d{2}):(\d{2}),(\d{3})"
    arrow = re.compile(rf"^{ts}\s*-->\s*{ts}\s*$")
    cues: list[tuple[int, int, int, str]] = []
    for block in re.split(r"\n\s*\n", payload.strip("\n")):
        lines = block.split("\n")
        if len(lines) < 2:
            continue
        idx = int(lines[0].strip())
        m = arrow.match(lines[1].strip())
        if not m:
            raise ValueError(f"bad SRT timing line: {lines[1]!r}")
        start, end = _timing_groups_to_ms(m.groups())
        cues.append((idx, start, end, "\n".join(lines[2:])))
    return cues


def format_vtt_timestamp(ms: int) -> str:
    """``HH:MM:SS.mmm`` (WebVTT's dot convention)."""
    return format_srt_timestamp(ms).replace(",", ".")


def parse_vtt(payload: str) -> list[tuple[int, int, int, str]]:
    """WebVTT parser (caption subset): ``WEBVTT`` header line, blank-
    line separated cues with optional identifier lines, ``.``-decimal
    timestamps. Returns the same ``(index, start_ms, end_ms, text)``
    shape as :func:`parse_srt` (index = 1-based cue order; the optional
    cue id is not a number in VTT)."""
    import re

    body = payload.lstrip("﻿")
    first, _, rest = body.partition("\n")
    # spec signature: "WEBVTT" alone or followed by space/tab + label
    if not re.match(r"^WEBVTT(?:[ \t]|$)", first.strip()):
        raise ValueError("missing WEBVTT header")
    # hours are OPTIONAL in VTT (MM:SS.mmm is the common short form)
    ts = r"(?:(\d+):)?(\d{2}):(\d{2})\.(\d{3})"
    arrow = re.compile(rf"^{ts}\s*-->\s*{ts}(?:\s+.*)?$")
    # comment/metadata blocks start with the TOKEN followed by
    # whitespace or end-of-line — "NOTE-cue-1" is a legal cue id
    non_cue = re.compile(r"^(?:NOTE|STYLE|REGION)(?:\s|$)")
    cues: list[tuple[int, int, int, str]] = []
    for block in re.split(r"\n\s*\n", rest.strip("\n")):
        lines = block.split("\n")
        if not any(ln.strip() for ln in lines):
            continue
        if non_cue.match(lines[0].strip()):
            continue
        m = arrow.match(lines[0].strip())
        text_from = 1
        if not m and len(lines) > 1:  # optional cue identifier line
            m = arrow.match(lines[1].strip())
            text_from = 2
        if not m:
            raise ValueError(f"bad VTT cue block: {lines[0]!r}")
        start, end = _timing_groups_to_ms(m.groups())
        cues.append((len(cues) + 1, start, end, "\n".join(lines[text_from:])))
    return cues


def srt_caption_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-alignment parsing (C4/C5 bridge): every third document's
    text is split into caption cues on deterministic word boundaries,
    rendered as SubRip OR WebVTT by doc_id parity (index/identifier
    lines, ``HH:MM:SS,mmm`` vs ``HH:MM:SS.mmm`` timing, VTT header),
    and parsed back by the matching parser inside Arrow-batched
    ``mapInPandas``. The operator reports cue counts, total cue
    duration, and lossless-reassembly counts per language — all pure
    doc_id/token arithmetic, so DuckDB oracles every column; a parser
    slip in either format's timing math or cue framing hash-fails.
    Scale shape: one documents scan, parse per executor batch,
    (lang, 3 ints) shuffle."""
    # r16: spread before the Python boundary — the sf1 sweep showed this
    # operator's whole decode serialized on ONE Python worker (single
    # input split; JVM CPU ~0.5 s vs wall 2.8 s: the work is all in the
    # worker, invisible to the JVM clock). The shuffle moves only the
    # narrow pre-decode columns; layout-aware spread() skips itself on
    # a real multi-split layout. Downstream aggregates are
    # order-independent, output identical.
    d = spread(
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .filter(F.col("doc_id") % 3 == 0),
        "doc_id",
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for did, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                did = int(did)
                words = (text or "").split()
                per_cue = 3 + did % 4  # words per cue
                cues_src = [
                    " ".join(words[i : i + per_cue])
                    for i in range(0, len(words), per_cue)
                ] or [""]
                # deterministic timing: cue k spans [k*1500, k*1500+1200)
                if (did // 3) % 2:
                    vtt = "WEBVTT\n\n" + "\n\n".join(
                        f"cue-{k + 1}\n"
                        f"{format_vtt_timestamp(k * 1500)} --> "
                        f"{format_vtt_timestamp(k * 1500 + 1200)}\n"
                        f"{cue}"
                        for k, cue in enumerate(cues_src)
                    )
                    cues = parse_vtt(vtt)
                else:
                    srt = "\n\n".join(
                        f"{k + 1}\n"
                        f"{format_srt_timestamp(k * 1500)} --> "
                        f"{format_srt_timestamp(k * 1500 + 1200)}\n"
                        f"{cue}"
                        for k, cue in enumerate(cues_src)
                    )
                    cues = parse_srt(srt)
                joined = " ".join(c[3] for c in cues)
                ok = joined == " ".join(words)
                recs.append(
                    (
                        lang,
                        len(cues),
                        sum(c[2] - c[1] for c in cues),
                        int(ok),
                    )
                )
            yield pd.DataFrame(
                recs, columns=["lang", "n_cues", "dur_ms", "exact"]
            )

    stats = d.mapInPandas(
        run, "lang STRING, n_cues BIGINT, dur_ms BIGINT, exact BIGINT"
    )
    return stats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_cues").alias("total_cues"),
        F.sum("dur_ms").alias("total_dur_ms"),
        F.sum("exact").alias("exact_matches"),
    )


# cue count = ceil(words / per_cue) (min 1), each cue 1200 ms; the
# reassembly must be lossless, so exact_matches == doc count
SRT_CAPTION_SQL = r"""
WITH docs AS (
  SELECT doc_id, lang,
         len(string_split_regex(trim(text), '\s+')) AS n_words,
         3 + doc_id % 4 AS per_cue
  FROM documents
  WHERE doc_id % 3 = 0
), cues AS (
  SELECT lang,
         CASE WHEN n_words = 0 THEN 1
              ELSE CAST(ceil(n_words / (1.0 * per_cue)) AS BIGINT)
         END AS n_cues
  FROM docs
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_cues) AS BIGINT) AS total_cues,
       CAST(sum(n_cues) * 1200 AS BIGINT) AS total_dur_ms,
       CAST(count(*) AS BIGINT) AS exact_matches
FROM cues
GROUP BY lang
"""


QUERIES: dict[str, QuerySpec] = {
    "html_extract_main": QuerySpec(html_extract_main, HTML_EXTRACT_MAIN_SQL),
    "srt_caption_stats": QuerySpec(srt_caption_stats, SRT_CAPTION_SQL),
    "corpus_clean": QuerySpec(corpus_clean, CORPUS_CLEAN_SQL, bench=True),
    "text_normalize": QuerySpec(text_normalize, TEXT_NORMALIZE_SQL),
    "dataset_split": QuerySpec(dataset_split, DATASET_SPLIT_SQL),
    "tfidf_top_terms": QuerySpec(tfidf_top_terms, TFIDF_TOP_TERMS_SQL),
    "ngram_top_bigrams": QuerySpec(
        ngram_top_bigrams, NGRAM_TOP_BIGRAMS_SQL
    ),
    "token_stats": QuerySpec(token_stats, TOKEN_STATS_SQL, bench=True),
    "token_count_bpe": QuerySpec(token_count_bpe, TOKEN_COUNT_BPE_SQL),
    "winnow_fingerprints": QuerySpec(winnow_fingerprints, None),
    "winnow_fingerprint_stats": QuerySpec(
        winnow_fingerprint_stats, WINNOW_STATS_SQL
    ),
    "text_quality": QuerySpec(text_quality, TEXT_QUALITY_SQL),
    "lang_id_heuristic": QuerySpec(lang_id_heuristic, LANG_ID_SQL),
    "doc_fingerprint": QuerySpec(doc_fingerprint, DOC_FINGERPRINT_SQL),
    "doc_chunk_overlap": QuerySpec(doc_chunk_overlap, DOC_CHUNK_SQL),
    "oov_rate_filter": QuerySpec(oov_rate_filter, OOV_RATE_SQL),
}
