"""Text-analysis queries over the ``documents`` fixture table — the
reference's keyword→sector classifier (F8, reference
scrape_tickers.py:167-188, whitelist :141-143) and regex extraction
(F7, :190-196) generalized to the north-star text operators:
quality scoring, language-ID, document fingerprinting, corpus
term frequency.

Everything is scan-side codegen (split/contains/regexp/aggregate) or
a broadcast join against a tiny constants table — the shapes that are
embarrassingly parallel at 100 TB. Hashes are md5-derived
(functions/hashing.py) so DuckDB reproduces them exactly; ratios are
int/int divisions in double — bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psx_data_pipeline_spark.functions.hashing import HASH_P, md5_long, md5_long_sql
from psx_data_pipeline_spark.functions.textfns import TOKENS_SQL, tokens
from psx_data_pipeline_spark.plans.registry import query
from psx_data_pipeline_spark.session import hold
from psx_data_pipeline_spark.sources.fixtures import load_table, load_table_parallel

_TOKS = TOKENS_SQL.format("text")

# --- keyword → category classification (F8, when-chain form) ----------------

# first matching keyword wins, in priority order — the reference's
# sector_keywords dict semantics (scrape_tickers.py:167-188)
_KEYWORDS = [
    ("vector", "ml"),
    ("stream", "streaming"),
    ("window", "analytics"),
    ("join", "relational"),
    ("hash", "infrastructure"),
]
_DEFAULT_CAT = "general"

_CASE_SQL = "CASE " + " ".join(
    f"WHEN contains(text, '{k}') THEN '{v}'" for k, v in _KEYWORDS
) + f" ELSE '{_DEFAULT_CAT}' END"

KEYWORD_CLASSIFY_ORACLE = f"""
SELECT doc_id, {_CASE_SQL} AS category,
       regexp_extract(text, 'table (\\w+)', 1) AS after_table
FROM documents
"""


@query("keyword_classify", KEYWORD_CLASSIFY_ORACLE)
def q_keyword_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 as a chained-when CASE expression (first keyword wins) plus
    the F7 regexp_extract column — pure codegen, no shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    expr = None
    for k, v in _KEYWORDS:
        clause = F.when(F.col("text").contains(k), F.lit(v))
        expr = clause if expr is None else expr.when(
            F.col("text").contains(k), F.lit(v)
        )
    expr = expr.otherwise(F.lit(_DEFAULT_CAT))
    return docs.select(
        "doc_id",
        expr.alias("category"),
        F.regexp_extract("text", r"table (\w+)", 1).alias("after_table"),
    )


# --- language-ID (broadcast marker-table argmax — F8, join form) ------------

_LANG_MARKERS = [
    ("de", ["key", "value", "merge"]),
    ("en", ["the", "a", "table"]),
    ("es", ["data", "row", "column"]),
    ("fr", ["join", "group", "sort"]),
    ("zh", ["spark", "query", "scan"]),
]

_MARKER_VALUES = ", ".join(
    "('" + lang + "', [" + ",".join(f"'{m}'" for m in ms) + "])"
    for lang, ms in _LANG_MARKERS
)

# the argmax window partitions on a synthetic PER-ROW id (arbitrary
# but unique — each partition holds one physical row's five scores),
# NOT on doc_id: the engine classifies each physical row scan-side,
# and a partition keyed on doc_id silently merged duplicate-id twins
# into one output row (round-11 hostile-id probe)
LANG_ID_ORACLE = f"""
WITH m AS (SELECT * FROM (VALUES {_MARKER_VALUES}) AS t(lang, markers)),
d AS (SELECT *, row_number() OVER () AS rid FROM documents),
scored AS (
  SELECT d.rid, d.doc_id, d.lang AS lang_true, m.lang,
         len(list_intersect(list_distinct({_TOKS}), m.markers)) AS hits
  FROM d CROSS JOIN m
),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY rid ORDER BY hits DESC, lang) AS rk
  FROM scored
)
SELECT doc_id, lang_true,
       CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
FROM best WHERE rk = 1
"""


@query("lang_id", LANG_ID_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID, fully scan-side: the marker table is
    a compile-time constant, so each language's hit count is a
    projected column (array_intersect against a literal array) and
    the argmax (tie-break: language code ascending, matching the
    oracle's row_number order) is a greatest + when-chain. Zero
    shuffles, zero joins — the whole classifier rides the corpus scan
    at any scale. The oracle keeps the equivalent cross-join/window
    SQL form."""
    docs = load_table(spark, "documents", sf_dir)
    # NULL text → empty token set → zero hits → 'und' (the oracle's
    # CASE already lands there because NULL > 0 is not true; without
    # the coalesce Spark's when-chain returned NULL instead)
    toks = F.array_distinct(
        F.coalesce(tokens("text"), F.array().cast("array<string>"))
    )
    hit_cols = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in ms])))
        for lang, ms in sorted(_LANG_MARKERS)
    }
    mx = F.greatest(*hit_cols.values())
    pred = F.when(mx == 0, F.lit("und"))
    for lang, h in hit_cols.items():  # asc lang order ⇒ asc tie-break
        pred = pred.when(h == mx, F.lit(lang))
    return docs.select(
        "doc_id", F.col("lang").alias("lang_true"), pred.alias("lang_pred")
    )


# --- quality scoring ---------------------------------------------------------

_STOPWORDS = "['the', 'a']"

TEXT_QUALITY_ORACLE = f"""
SELECT doc_id,
  length(text) AS n_chars,
  len({_TOKS}) AS n_tokens,
  len(list_filter({_TOKS}, w -> list_contains({_STOPWORDS}, w))) AS n_stop,
  CAST(len(list_filter({_TOKS}, w -> list_contains({_STOPWORDS}, w))) AS DOUBLE)
    / len({_TOKS}) AS stop_ratio,
  CAST(length(regexp_replace(text, '[a-z]', '', 'g')) AS DOUBLE)
    / length(text) AS non_alpha_ratio,
  CAST(length(text) AS DOUBLE) / len({_TOKS}) AS mean_token_span
FROM documents
WHERE len({_TOKS}) > 0
"""


@query("text_quality", TEXT_QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals (length / stopword ratio / non-alpha
    ratio / mean token span) — the pre-training filter features, all
    int-ratio → double so both engines agree exactly."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens("text")
    stop = F.filter(toks, lambda w: w.isin("the", "a"))
    out = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(stop).alias("n_stop"),
        (F.size(stop).cast("double") / F.size(toks)).alias("stop_ratio"),
        (
            F.length(F.regexp_replace("text", "[a-z]", "")).cast("double")
            / F.length("text")
        ).alias("non_alpha_ratio"),
        (F.length("text").cast("double") / F.size(toks)).alias("mean_token_span"),
    )
    return out.where(F.col("n_tokens") > 0)


# --- document fingerprint (rolling hash) -------------------------------------

_B = 1_000_003

DOC_FINGERPRINT_ORACLE = f"""
SELECT doc_id,
  list_reduce(
    list_prepend(0::BIGINT,
      [{md5_long_sql('t')} % {HASH_P} FOR t IN {_TOKS}]),
    (acc, h) -> (acc * {_B} + h) % {HASH_P}
  ) AS fp
FROM documents
"""


@query("doc_fingerprint", DOC_FINGERPRINT_ORACLE)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling token hash (polynomial mod P): the
    cheap whole-document fingerprint that, unlike the md5-of-text
    fingerprint, survives whitespace normalization. Sequential fold
    in both engines (F.aggregate ↔ list_reduce with a prepended
    zero), bigint arithmetic stays under 2^52."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    hs = F.transform(tokens("text"), lambda t: md5_long(t) % HASH_P)
    # NULL text folds like a zero-token doc: fp = the 0 seed (the
    # oracle's list_prepend(0, ...) already behaves that way)
    fp = F.aggregate(
        F.coalesce(hs, F.array().cast("array<bigint>")),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * _B + h) % HASH_P,
    )
    return docs.select("doc_id", fp.alias("fp"))


# --- corpus term frequency ---------------------------------------------------

WORD_FREQ_ORACLE = f"""
SELECT tok, count(*) AS n
FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
GROUP BY tok ORDER BY n DESC, tok LIMIT 20
"""


@query("word_freq", WORD_FREQ_ORACLE)
def q_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 term frequency: explode → count → top-k. The
    group-by is map-side combinable; the top-k is
    TakeOrderedAndProject."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


# --- BPE-ish regex token counting -------------------------------------------

# Subword-flavored lexer classes: letter runs, digit runs, single
# punctuation marks — the shape of a BPE pre-tokenizer's split.
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

TOKEN_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '{_BPE_RE}') AS toks
  FROM documents
)
SELECT doc_id,
  len(toks) AS n_tokens,
  len(list_distinct(toks)) AS n_distinct,
  CAST(len(list_filter(toks, x -> x ~ '^[0-9]+$')) AS BIGINT) AS n_numeric,
  CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS BIGINT)
    AS total_chars
FROM t
"""


@query("token_stats", TOKEN_STATS_ORACLE)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex lexer (letter runs, digit
    runs, punctuation singletons) — all array higher-order functions
    on the scan, no explode, no shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.expr(f"regexp_extract_all(lower(text), '{_BPE_RE}', 0)")
    t = docs.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.size(F.filter("toks", lambda x: x.rlike("^[0-9]+$")))
        .cast("long").alias("n_numeric"),
        F.coalesce(
            F.aggregate(
                "toks", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ),
            F.lit(0).cast("long"),
        ).alias("total_chars"),
    )


# --- TF-IDF top terms --------------------------------------------------------

# IDF as an integer-exact surrogate: idf_milli = floor(1000 · ln(N/df))
# — ln is IEEE-identical in both engines for the same double input,
# and the floor-quantization makes the tie-behaviour discrete and
# engine-independent. Ranking tie-breaks on the token string.
_TFIDF_K = 3

TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
),
df AS (
  -- NULL-safe distinct-doc count: COUNT(DISTINCT doc_id) skips the
  -- NULL id while tf keeps its group, so a token living only in a
  -- NULL-id doc got df = 0 and a zero divisor (round-11 hostile-id
  -- probe: one corrupt catalog row task-killed the engine side)
  SELECT tok, COUNT(DISTINCT coalesce(CAST(doc_id AS VARCHAR),
                                      chr(9216) || 'null')) AS df
  FROM toks GROUP BY tok
),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         CAST(tf.tf AS BIGINT) * CAST(floor(1000 * ln(
           CAST(n.n AS DOUBLE) / df.df)) AS BIGINT) AS score_milli
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT doc_id, tok, score_milli, CAST(rk AS INT) AS rk FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score_milli DESC, tok) AS rk
  FROM scored
) WHERE rk <= {_TFIDF_K}
"""


@query("tfidf_top_terms", TFIDF_ORACLE)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{_TFIDF_K} terms by TF-IDF. Two shuffles
    (term-frequency and document-frequency aggregations) + one join on
    the token — df is corpus-bounded vocabulary, so at scale the join
    broadcast-degrades gracefully under AQE; the doc count N is a
    scalar literal, not a per-row subquery."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    n_docs = docs.count()  # scalar: one tiny job, inlined as a literal
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # NULL-safe surrogate: countDistinct skips NULL ids while tf keeps
    # the NULL group — a token living only in a NULL-id doc had df = 0
    # and the idf divided by zero (round-11 hostile-id probe)
    dfreq = toks.groupBy("tok").agg(
        F.countDistinct(
            F.coalesce(F.col("doc_id").cast("string"),
                       F.lit("␀null"))
        ).alias("df")
    )
    scored = tf.join(dfreq, "tok").select(
        "doc_id", "tok",
        (
            F.col("tf").cast("long")
            * F.floor(
                F.lit(1000.0) * F.log(F.lit(float(n_docs)) / F.col("df"))
            ).cast("long")
        ).alias("score_milli"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_milli"), F.asc("tok")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= _TFIDF_K)
        .select("doc_id", "tok", "score_milli", "rk")
    )


# --- document chunking (overlapping windows for LLM ingestion) ---------------

_CHUNK, _OVERLAP = 200, 50
_STRIDE = _CHUNK - _OVERLAP

DOC_CHUNKS_ORACLE = f"""
SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       substr(text, i * {_STRIDE} + 1, {_CHUNK}) AS chunk,
       len(substr(text, i * {_STRIDE} + 1, {_CHUNK})) AS n_chars
FROM documents,
     UNNEST(range(0,
       GREATEST(CAST(ceil((len(text) - {_OVERLAP}) / {_STRIDE}.0) AS BIGINT),
                1))) AS t(i)
WHERE text IS NOT NULL
"""


@query("doc_chunks", DOC_CHUNKS_ORACLE)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunks ({_CHUNK} chars, {_OVERLAP}
    overlap) — the LLM-ingestion splitter as a pure array expression:
    an index sequence + transform + posexplode, no Python, no
    shuffle. Chunk count = ⌈(len−overlap)/stride⌉ (min 1), so the
    final partial chunk is kept."""
    docs = load_table(spark, "documents", sf_dir)
    n_chunks = F.greatest(
        F.ceil((F.length("text") - _OVERLAP) / F.lit(float(_STRIDE))).cast("long"),
        F.lit(1).cast("long"),
    )
    # One linear \G-regex pass splits the text into stride-sized
    # pieces; chunk_i = piece_i + the first OVERLAP chars of
    # piece_{i+1} (zip against the 1-shifted array). The direct form
    # — substr(text, i·stride, CHUNK) per index — is O(position) per
    # call (UTF-8 char indexing rescans the string head), O(len²)
    # per document: ~28 s for ONE 1.2 MB doc, found by the
    # --giant-doc-tokens probe; this shape is O(len).
    pieces = F.split("text", r"(?s)(?<=\G.{" + str(_STRIDE) + r"})")
    chunks = F.slice(
        F.zip_with(
            pieces,
            F.slice(
                pieces, 2, F.greatest(F.size(pieces) - 1, F.lit(0))
            ),
            lambda a, b: F.concat(
                a, F.substring(F.coalesce(b, F.lit("")), 1, _OVERLAP)
            ),
        ),
        1,
        n_chunks,
    )
    out = docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return out.select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk", F.length("chunk").cast("long").alias("n_chars"),
    )


# --- PII-style masking -------------------------------------------------------

DOC_MASK_ORACLE = r"""
SELECT doc_id,
  regexp_replace(
    regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
    '[0-9][0-9]+', '<NUM>', 'g') AS masked,
  len(regexp_extract_all(text, '[0-9][0-9]+')) AS n_nums
FROM documents
"""


@query("doc_mask", DOC_MASK_ORACLE)
def q_doc_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrubbing pass of the training-data pipeline: email-like spans
    and multi-digit runs replaced with typed placeholder tokens, with
    a per-doc replacement count for audit. Scan-side regexp only —
    the patterns stay in the RE2 ∩ Java-regex common dialect so both
    engines substitute identically."""
    docs = load_table(spark, "documents", sf_dir)
    masked = F.regexp_replace(
        F.regexp_replace("text", r"[a-z0-9.]+@[a-z0-9.]+", "<EMAIL>"),
        r"[0-9][0-9]+", "<NUM>",
    )
    return docs.select(
        "doc_id",
        masked.alias("masked"),
        F.size(F.expr(r"regexp_extract_all(text, '[0-9][0-9]+', 0)"))
        .cast("long").alias("n_nums"),
    )


# --- deterministic stratified sampling (dataset mixing) ----------------------

# per-source admission rate out of 100: half the sources (by hash
# parity of the NAME — source ids are arbitrary strings at scale, so
# no numeric-suffix parsing; the old substr-cast form crashed under
# ANSI on any source not shaped 'srcN', found by the giant-doc skew
# probe) are upsampled (80), the rest downsampled (20) — a two-tier
# training mix
_RATE_SQL = f"""
  CASE WHEN {md5_long_sql("source")} % 2 = 0
       THEN 80 ELSE 20 END
"""

CORPUS_SAMPLE_ORACLE = f"""
SELECT doc_id, source
FROM documents
WHERE {md5_long_sql("CAST(doc_id AS VARCHAR)")} % 100 < {_RATE_SQL}
"""


@query("corpus_sample", CORPUS_SAMPLE_ORACLE)
def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing by deterministic hash-gate sampling: admit a
    doc iff md5(doc_id) mod 100 falls under its source's rate. Unlike
    `df.sample` this is reproducible across runs, engines, and
    repartitioning — the property a training mix must have — and it
    is a pure scan-side filter (pushdown-friendly, no shuffle)."""
    docs = load_table(spark, "documents", sf_dir)
    rate = F.when(
        md5_long(F.col("source")) % 2 == 0, F.lit(80)
    ).otherwise(F.lit(20))
    gate = md5_long(F.col("doc_id").cast("string")) % 100
    return docs.where(gate < rate).select("doc_id", "source")


# --- end-to-end corpus curation ---------------------------------------------

CORPUS_CURATE_ORACLE = f"""
WITH survivors AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
scored AS (
  SELECT d.doc_id, d.lang, d.source, len({_TOKS}) AS n_tokens,
         CAST(length(regexp_replace(d.text, '[a-z]', '', 'g')) AS DOUBLE)
           / length(d.text) AS non_alpha_ratio
  FROM documents d JOIN survivors s USING (doc_id)
)
SELECT doc_id, lang, source, n_tokens
FROM scored
WHERE lang = 'en' AND n_tokens >= 30 AND non_alpha_ratio < 0.35
"""


@query("corpus_curate", CORPUS_CURATE_ORACLE)
def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline end-to-end: exact-dedup survivors
    (keep-min-id per content hash) ∧ language gate ∧ quality gates
    (token count, non-alpha ratio) — one dedup shuffle, then pure
    scan filters; the composition every pre-training corpus goes
    through before chunking/tokenization."""
    docs = load_table(spark, "documents", sf_dir)
    survivors = (
        docs.groupBy(F.md5("text").alias("__fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    toks = tokens("text")
    scored = docs.join(survivors, "doc_id").select(
        "doc_id", "lang", "source",
        F.size(toks).alias("n_tokens"),
        (
            F.length(F.regexp_replace("text", "[a-z]", "")).cast("double")
            / F.length("text")
        ).alias("non_alpha_ratio"),
    )
    return scored.where(
        (F.col("lang") == "en")
        & (F.col("n_tokens") >= 30)
        & (F.col("non_alpha_ratio") < 0.35)
    ).select("doc_id", "lang", "source", "n_tokens")


# --- benchmark decontamination (n-gram containment) --------------------------

from psx_data_pipeline_spark.functions.textfns import word_shingles  # noqa: E402

# DuckDB twin of word_shingles(text, 3) — same as plans/dedup._SHINGLES
_SHINGLES3 = f"""
CASE WHEN len({_TOKS}) >= 3 THEN
  [array_to_string(({_TOKS})[i:i+2], ' ') FOR i IN generate_series(1, len({_TOKS}) - 2)]
WHEN len({_TOKS}) > 0 THEN [array_to_string({_TOKS}, ' ')]
ELSE CAST([] AS VARCHAR[]) END
"""

_BENCH_MOD = 10  # "benchmark" = doc_id % 10 == 7 (deterministic stand-in)

DECONTAMINATE_ORACLE = f"""
WITH bench AS (
  SELECT DISTINCT unnest({_SHINGLES3}) AS sh FROM documents
  WHERE doc_id % {_BENCH_MOD} = 7
),
corpus AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES3})) AS sh FROM documents
  WHERE doc_id % {_BENCH_MOD} <> 7
),
hits AS (
  SELECT c.doc_id, count(*) AS n_hits
  FROM corpus c JOIN bench b USING (sh) GROUP BY c.doc_id
)
SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       (h.doc_id IS NOT NULL) AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {_BENCH_MOD} <> 7) d
LEFT JOIN hits h USING (doc_id)
"""


@query("decontaminate", DECONTAMINATE_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word-shingle with a held-out benchmark set (the published
    n-gram-overlap decontamination recipe; 3-gram here because the
    fixture docs are short — the real pipeline uses 8-13-grams, same
    plan). The benchmark's distinct shingle set is SMALL by nature —
    broadcast it, so the corpus side is one scan + one
    map-side-combinable count per doc; no corpus-sized shuffle of
    text ever happens."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    sh = F.explode(F.array_distinct(word_shingles("text", 3))).alias("sh")
    bench = (
        docs.where(F.col("doc_id") % _BENCH_MOD == 7).select(sh).distinct()
    )
    corpus = docs.where(F.col("doc_id") % _BENCH_MOD != 7)
    hits = (
        corpus.select("doc_id", sh)
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return corpus.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        F.col("n_hits").isNotNull().alias("contaminated"),
    )


# --- repetition scoring (Gopher-style quality rules) -------------------------

_SHINGLES2 = f"""
CASE WHEN len({_TOKS}) >= 2 THEN
  [array_to_string(({_TOKS})[i:i+1], ' ') FOR i IN generate_series(1, len({_TOKS}) - 1)]
WHEN len({_TOKS}) > 0 THEN [array_to_string({_TOKS}, ' ')]
ELSE CAST([] AS VARCHAR[]) END
"""

DOC_REPETITION_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
    COALESCE(len({_TOKS}), 0) AS n_tokens,
    CASE WHEN COALESCE(len({_TOKS}), 0) = 0 THEN 0.0 ELSE
      1.0 - CAST(len(list_distinct({_TOKS})) AS DOUBLE)
          / CAST(len({_TOKS}) AS DOUBLE) END AS dup_token_frac,
    CASE WHEN COALESCE(len({_TOKS}), 0) = 0 THEN 0.0 ELSE
      CAST(list_max(list_transform(list_distinct({_SHINGLES2}),
             x -> len(list_filter({_SHINGLES2}, y -> y = x)))) AS DOUBLE)
        / CAST(len({_SHINGLES2}) AS DOUBLE) END AS top_bigram_frac
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, dup_token_frac,
       top_bigram_frac,
       (dup_token_frac < 0.5 AND top_bigram_frac < 0.5) AS keep
FROM scored
"""


@query("doc_repetition", DOC_REPETITION_ORACLE)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality scores in the style of the published
    Gopher rules: duplicate-token fraction and the share of bigrams
    taken by the most frequent bigram, plus a keep flag. Everything is
    per-row array arithmetic (no shuffle, no UDF — embarrassingly
    parallel at any scale). The per-doc bigram mode is a run-length
    scan over the SORTED bigram array (array_sort + one aggregate
    pass, O(n log n) per doc) — the naive distinct×filter form is
    O(n²) per doc and measured 250 s at sf0.1 where this shape runs
    in ~1 s. Fractions are ratios of exact integers → bit-identical
    across engines (the oracle computes the same max-count/total via
    its quadratic-but-obviously-correct form)."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    toks = tokens("text")
    bg = word_shingles("text", 2)
    # zero-token (or NULL-text) docs: repetition is defined as 0.0 —
    # the when() also keeps ANSI division-by-zero out of the plan
    # (an empty doc crashed the query before; hostile-probe finding)
    dup_frac = F.when(
        F.coalesce(F.size(toks), F.lit(0)) == 0, F.lit(0.0)
    ).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
    )
    # max bigram multiplicity = longest run in the sorted array
    zero = F.struct(
        F.lit(" ").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    maxc = F.aggregate(F.array_sort(bg), zero, _step, lambda acc: acc["best"])
    top_bg = F.when(
        F.coalesce(F.size(bg), F.lit(0)) == 0, F.lit(0.0)
    ).otherwise(maxc.cast("double") / F.size(bg).cast("double"))
    scored = docs.select(
        "doc_id",
        F.coalesce(F.size(toks), F.lit(0)).cast("long").alias("n_tokens"),
        dup_frac.alias("dup_token_frac"),
        top_bg.alias("top_bigram_frac"),
    )
    return scored.select(
        "*",
        (
            (F.col("dup_token_frac") < 0.5) & (F.col("top_bigram_frac") < 0.5)
        ).alias("keep"),
    )


# --- C4-style duplicate-chunk removal ---------------------------------------

_BLK = 10  # tokens per non-overlapping block

CHUNK_DEDUP_ORACLE = f"""
WITH blocks AS (
  SELECT doc_id,
         array_to_string(({_TOKS})[i * {_BLK} + 1 : i * {_BLK} + {_BLK}], ' ') AS blk
  FROM documents,
       UNNEST(range(0,
         GREATEST(CAST(ceil(len({_TOKS}) / {_BLK}.0) AS BIGINT), 1))) AS t(i)
  WHERE COALESCE(len({_TOKS}), 0) > 0
),
counts AS (SELECT blk, count(*) AS c FROM blocks GROUP BY blk)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_block_frac,
       (CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) <= 0.5) AS keep
FROM blocks JOIN counts USING (blk)
GROUP BY doc_id
"""


@query("chunk_dedup", CHUNK_DEDUP_ORACLE)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global duplicate-chunk removal in the style of C4's
    three-sentence dedup: split every document into non-overlapping
    {_BLK}-token blocks, count each block's corpus-wide occurrences,
    and score each doc by the fraction of its blocks that appear more
    than once anywhere (docs past 0.5 are dropped). The plan is the
    exact-substring-dedup shape that survives 100 TB: explode is
    narrow, the occurrence count is a map-side-combinable groupBy on
    the block hash, and the join back to blocks reuses that same hash
    partitioning before the final per-doc rollup. No text column ever
    shuffles twice — blocks carry only (doc_id, hash)."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    # tokenize ONCE into an aliased column the next projection
    # references several times — embedding the tokens(...) expression
    # tree directly in the transform lambda re-runs the split per
    # array element (interpreted HOF, no CSE): O(tokens²) per doc, a
    # never-finishing straggler on a 300 k-token document (found by
    # the --giant-doc-tokens probe; same bug class as word_shingles)
    # zero-token (or NULL-text) docs have no blocks and no defined
    # dup fraction — drop them on BOTH sides (the oracle's WHERE
    # twin); without this, Spark emitted an '' block for whitespace
    # docs that DuckDB's NULL-blk join silently dropped
    # (hostile-probe finding)
    base = docs.select("doc_id", tokens("text").alias("__t")).where(
        F.coalesce(F.size("__t"), F.lit(0)) > 0
    )
    n_blocks = F.greatest(
        F.ceil(F.size("__t") / F.lit(float(_BLK))).cast("long"),
        F.lit(1).cast("long"),
    )
    idx = F.sequence(F.lit(0).cast("long"), n_blocks - 1)
    blocks = base.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.array_join(
                    F.slice("__t", (i * _BLK + 1).cast("int"), _BLK), " "
                ),
            )
        ).alias("blk"),
    )
    counts = blocks.groupBy("blk").agg(F.count(F.lit(1)).alias("c"))
    dup = F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast("double")
    scored = (
        blocks.join(counts, "blk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            (dup / F.count(F.lit(1))).alias("dup_block_frac"),
        )
    )
    return scored.select(
        "doc_id", "n_blocks", "dup_block_frac",
        (F.col("dup_block_frac") <= 0.5).alias("keep"),
    )


# --- per-source token-budget sampling ---------------------------------------

_TOKEN_BUDGET = 600  # tokens admitted per source

TOKEN_BUDGET_SAMPLE_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, source, len({_TOKS}) AS n_tokens,
         sum(len({_TOKS})) OVER (
           PARTITION BY source
           ORDER BY md5(coalesce(CAST(doc_id AS VARCHAR), '')),
                    len({_TOKS})
           ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM documents
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked WHERE cum_tokens <= {_TOKEN_BUDGET}
"""


@query("token_budget_sample", TOKEN_BUDGET_SAMPLE_ORACLE)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix construction under a token budget: admit documents
    per source, in deterministic md5(doc_id) order, until the
    source's token quota ({_TOKEN_BUDGET}) is exhausted — the
    data-mixing step that turns curated pools into a training corpus
    with a prescribed composition. One shuffle on source; the cumsum
    is a running window inside each source partition. At 100 TB a
    heavy source would make its window partition the straggler — the
    scale path is the same plan with a salted two-phase quota split
    (per-salt partial budgets from a first aggregate pass), which
    keeps this exact output contract; at the reference's source
    cardinalities the direct window is the right plan."""
    docs = load_table(spark, "documents", sf_dir)
    toks_n = F.size(tokens("text")).cast("long")
    # n_tokens tiebreak: a duplicate-id twin ties on md5(doc_id), and
    # an untied running frame is engine-arbitrary between the twins;
    # the md5 key is coalesced because a NULL id otherwise sorts
    # NULLS FIRST here and NULLS LAST in the oracle (round-11
    # hostile-id probe class)
    w = (
        Window.partitionBy("source")
        .orderBy(
            F.md5(F.coalesce(F.col("doc_id").cast("string"), F.lit(""))),
            F.col("n_tokens"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = docs.select(
        "doc_id", "source", toks_n.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return ranked.where(F.col("cum_tokens") <= _TOKEN_BUDGET)


# --- training-sequence packing ----------------------------------------------

_PACK_BUCKETS = 32  # parallel packing lanes
_BIN_TOKENS = 512   # tokens per training sequence

# ((x % k) + k) % k restates Spark's pmod (lane ids are always
# 0..k-1): DuckDB's bare % is trunc-mod, which sent a NEGATIVE doc_id
# to a negative lane of its own (round-12 negative-id probe find)
SEQUENCE_PACK_ORACLE = f"""
WITH sized AS (
  SELECT doc_id,
         ((doc_id % {_PACK_BUCKETS}) + {_PACK_BUCKETS})
           % {_PACK_BUCKETS} AS bucket,
         len({_TOKS}) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, bucket, n_tokens,
         sum(n_tokens) OVER (
           PARTITION BY bucket
           ORDER BY md5(CAST(doc_id AS VARCHAR)), n_tokens
           ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_offset
  FROM sized
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(tok_offset AS BIGINT) AS tok_offset,
       CAST(tok_offset // {_BIN_TOKENS} AS BIGINT) AS bin_id
FROM packed
"""


@query("sequence_pack", SEQUENCE_PACK_ORACLE)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a
    deterministic order and cut the token stream into fixed
    {_BIN_TOKENS}-token training sequences; each doc gets its stream
    offset and the bin its first token lands in. Packing is
    parallelized over {_PACK_BUCKETS} hash lanes (doc_id %
    {_PACK_BUCKETS}) — each lane is an independent window cumsum, so
    the plan is one shuffle on bucket and scales by adding lanes; no
    global single-partition ordering ever exists. All integer
    arithmetic → bit-identical across engines."""
    docs = load_table(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(_PACK_BUCKETS)).cast("long").alias("bucket"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("n_tokens"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "tok_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return packed.select(
        "doc_id", "bucket", "n_tokens", "tok_offset",
        F.expr(f"tok_offset div {_BIN_TOKENS}").alias("bin_id"),
    )


# --- quality decile bucketing ------------------------------------------------

QUALITY_TILES_ORACLE = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len(list_distinct({_TOKS})) AS DOUBLE)
           / len({_TOKS}) AS lex_div
  FROM documents WHERE len({_TOKS}) > 0
),
tiled AS (
  SELECT doc_id, lex_div,
         ntile(10) OVER (ORDER BY lex_div DESC, doc_id) AS tile
  FROM scored
)
SELECT CAST(tile AS BIGINT) AS tile, count(*) AS n,
       min(lex_div) AS min_div, max(lex_div) AS max_div
FROM tiled GROUP BY tile
"""


@query("quality_tiles", QUALITY_TILES_ORACLE)
def q_quality_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile bucketing: rank documents by lexical diversity
    and cut into ntile(10) bands — the 'keep the top N% by quality
    score' curation step — WITHOUT a corpus-cardinality global sort.

    Scale shape (the group_quantiles trick applied globally): the
    corpus is touched by exactly ONE map-side-combinable
    groupBy(lex_div) count; everything after runs on the DISTINCT-
    score table, bounded by the score domain (lex_div is a ratio of
    two token counts, so |domain| ≤ max_doc_tokens², never corpus
    rows). Under (lex_div DESC, doc_id) ordering, rows sharing a
    score occupy the contiguous rank range [n_higher+1,
    n_higher+cnt], so each distinct score overlaps tiles
    tile(lo)..tile(hi) — a span of ≤ 10 — and per-tile min/max score
    come from exploding those spans; per-tile row counts are the
    ntile closed form itself (q+1 for the first rem tiles, q after).
    tile(r) with q = n div k, rem = n mod k:  (r-1) div (q+1) + 1
    when r ≤ rem·(q+1), else rem + (r - rem·(q+1) - 1) div q + 1.
    The oracle stays a literal ntile(10) window, so the hash-compare
    proves the closed form reproduces ntile's remainder semantics
    exactly. No per-document tile assignment, no corpus-cardinality
    window, no skew on hot scores (e.g. lex_div = 1.0)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens("text")
    scored = docs.where(F.size(toks) > 0).select(
        "doc_id",
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "lex_div"
        ),
    )
    # distinct-score counts: the only corpus-cardinality stage
    vc = scored.groupBy("lex_div").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy(F.desc("lex_div")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vc.select(
        "lex_div", "cnt",
        (F.sum("cnt").over(w_cum) - F.col("cnt")).alias("n_higher"),
        F.sum("cnt").over(w_all).alias("n_rows"),
    ).select(
        "lex_div", "cnt", "n_higher",
        F.expr("n_rows div 10").alias("q"),
        F.expr("n_rows % 10").alias("rem"),
    )
    # closed-form ntile(10); greatest(q,1) keeps the ELSE divisor
    # total — when q=0, r ≤ n = rem·(q+1) so ELSE is never taken
    def tile_of(r: str) -> str:
        return (
            f"CASE WHEN {r} <= rem * (q + 1)"
            f"     THEN ({r} - 1) div (q + 1) + 1"
            f"     ELSE rem + ({r} - rem * (q + 1) - 1)"
            f"          div greatest(q, 1L) + 1 END"
        )

    spans = cum.select(
        "lex_div", "q", "rem",
        F.expr(tile_of("n_higher + 1")).alias("t_lo"),
        F.expr(tile_of("n_higher + cnt")).alias("t_hi"),
    )
    tiles = spans.select(
        "lex_div", "q", "rem",
        F.explode(F.expr("sequence(t_lo, t_hi)")).alias("tile"),
    )
    return tiles.groupBy(F.col("tile").cast("long").alias("tile")).agg(
        F.max(
            F.when(F.col("tile") <= F.col("rem"), F.col("q") + 1)
            .otherwise(F.col("q"))
        ).alias("n"),
        F.min("lex_div").alias("min_div"),
        F.max("lex_div").alias("max_div"),
    )


# --- bigram association (PMI-style lift) -------------------------------------

WORD_PMI_ORACLE = f"""
WITH bi AS (
  SELECT unnest({_SHINGLES2}) AS bg FROM documents
),
bc AS (SELECT bg, count(*) AS c_xy FROM bi WHERE contains(bg, ' ') GROUP BY bg),
tok AS (SELECT unnest({_TOKS}) AS tok FROM documents),
tc AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (
  SELECT (SELECT count(*) FROM tok) AS n_tok,
         (SELECT count(*) FROM bi WHERE contains(bg, ' ')) AS n_bi
)
SELECT bg, CAST(c_xy AS BIGINT) AS c_xy,
       CAST(c_xy AS DOUBLE) * n_tok * n_tok
         / (CAST(n_bi AS DOUBLE) * cx.c * cy.c) AS lift
FROM bc
JOIN tc cx ON cx.tok = split_part(bg, ' ', 1)
JOIN tc cy ON cy.tok = split_part(bg, ' ', 2)
CROSS JOIN tot
ORDER BY c_xy DESC, bg LIMIT 20
"""


@query("word_pmi", WORD_PMI_ORACLE)
def q_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigrams with their PMI-style lift — observed bigram rate
    over the rate independence predicts from the unigram
    frequencies (collocation mining; >1 = words attract). Three
    map-side-combinable counts + two joins of the bigram table
    against the (vocabulary-sized) unigram table; the corpus totals
    ride along as ONE broadcast scalar row. Lift stays a ratio of
    exact counts evaluated in the identical operand order on both
    engines (no log), so the hash-compare is exact."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    bi = docs.select(F.explode(word_shingles("text", 2)).alias("bg")).where(
        F.col("bg").contains(" ")
    )
    bc = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c_xy"))
    tok = docs.select(F.explode(tokens("text")).alias("tok"))
    tc = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = bi.agg(F.count(F.lit(1)).alias("n_bi")).crossJoin(
        F.broadcast(tok.agg(F.count(F.lit(1)).alias("n_tok")))
    )
    cx = tc.select(F.col("tok").alias("__wx"), F.col("c").alias("cx"))
    cy = tc.select(F.col("tok").alias("__wy"), F.col("c").alias("cy"))
    out = (
        bc.withColumn("__wx", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("__wy", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(cx, "__wx")
        .join(cy, "__wy")
        .crossJoin(F.broadcast(tot))
        .select(
            "bg",
            "c_xy",
            (
                F.col("c_xy").cast("double") * F.col("n_tok") * F.col("n_tok")
                / (
                    F.col("n_bi").cast("double") * F.col("cx") * F.col("cy")
                )
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("c_xy"), F.asc("bg")).limit(20)


# --- out-of-vocabulary rate --------------------------------------------------

_VOCAB_K = 100

OOV_RATE_ORACLE = f"""
WITH tc AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
  GROUP BY tok ORDER BY c DESC, tok LIMIT {_VOCAB_K}
),
v AS (SELECT list(tok) AS vocab FROM tc),
per_doc AS (
  SELECT doc_id, len({_TOKS}) AS n_tokens,
         len(list_filter({_TOKS},
             w -> NOT list_contains(v.vocab, w))) AS n_oov
  FROM documents CROSS JOIN v WHERE len({_TOKS}) > 0
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_oov AS BIGINT) AS n_oov,
       CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
FROM per_doc
"""


@query("oov_rate", OOV_RATE_ORACLE)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-{_VOCAB_K}
    vocabulary (count-desc, token-asc tie-break) — the classic cheap
    perplexity proxy for pre-training quality filters. The vocabulary
    is a bounded top-k (one map-side-combinable count + tiny sort),
    BROADCAST back as an array literal column; the per-doc OOV count
    is then a scan-side array filter — the corpus text itself never
    shuffles. Rates are exact-int ratios → engine-identical."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    toks = tokens("text")
    vocab = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(_VOCAB_K)
        .agg(F.collect_list("tok").alias("vocab"))
    )
    scored = (
        docs.where(F.size(toks) > 0)
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(
                F.filter(toks, lambda w: ~F.array_contains("vocab", w))
            ).cast("long").alias("n_oov"),
        )
    )
    return scored.select(
        "*",
        (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
    )


# --- temperature-scaled source mixing weights --------------------------------

SOURCE_TEMPERATURE_ORACLE = f"""
WITH per_source AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
scaled AS (
  SELECT *, sqrt(CAST(n_tokens AS DOUBLE)) AS s FROM per_source
)
SELECT source, n_docs, n_tokens,
       s / (SELECT CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE)
            FROM scaled) AS weight
FROM scaled
"""


@query("source_temperature_weights", SOURCE_TEMPERATURE_ORACLE)
def q_source_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights (the published
    multi-source sampling scheme, alpha = 0.5): weight_i =
    sqrt(tokens_i) / sum_j sqrt(tokens_j) — upweights small sources
    relative to proportional sampling. One map-side-combinable
    aggregate to source granularity (tiny), then a window-sum
    normalization over the per-source rows — the corpus is read
    once and never shuffled. sqrt is IEEE correctly-rounded, and
    the normalizer sums the sqrts EXACTLY in decimal (float addition
    is order-dependent — a partial-agg tree vs DuckDB's serial sum
    differed by 1 ulp), so the weights are bit-identical across
    engines at any partitioning."""
    docs = load_table(spark, "documents", sf_dir)
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).cast("long").alias("n_tokens"),
    )
    scaled = per_source.withColumn(
        "s", F.sqrt(F.col("n_tokens").cast("double"))
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    denom = F.sum(F.col("s").cast("decimal(38,6)")).over(total).cast(
        "double"
    )
    return scaled.select(
        "source", "n_docs", "n_tokens",
        (F.col("s") / denom).alias("weight"),
    )


# --- per-domain cap (training-mix dedup of over-represented hosts) ----------

_CAP_K = 10
_CAP_SALTS = 8

DOMAIN_CAP_ORACLE = f"""
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= {_CAP_K}
"""


@query("domain_cap", DOMAIN_CAP_ORACLE)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most K docs per source (the per-domain cap every
    pretraining mix applies to over-crawled hosts), deterministically:
    the K smallest doc_ids win.

    Two-phase min-K so no single reducer ever sorts a hot domain's
    full row set: phase 1 takes the per-(source, salt) top-K across
    ``_CAP_SALTS`` salted sub-groups (bounding any one sort to the
    sub-group), phase 2 re-ranks the ≤ S·K survivors per source.
    min-K is distributive, so the survivor set equals the direct
    single-pass top-K — the oracle states the direct form. At 100 TB
    the phase-2 input is (#domains · S · K) rows — trivially small —
    while the naive form serializes each domain in one partition."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    # asc_nulls_last in BOTH phases: Spark default asc is NULLS FIRST
    # while DuckDB's is NULLS LAST, so a NULL-id doc silently shifted
    # every rank in its source by one on this side only (round-11
    # hostile-id probe); a NULL id loses to every real id
    w1 = Window.partitionBy(
        "source", (F.col("doc_id") % _CAP_SALTS).alias("salt")
    ).orderBy(F.asc_nulls_last("doc_id"))
    phase1 = (
        docs.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= _CAP_K)
        .drop("rn1")
    )
    w2 = Window.partitionBy("source").orderBy(F.asc_nulls_last("doc_id"))
    return (
        phase1.withColumn("rn", F.row_number().over(w2).cast("long"))
        .where(F.col("rn") <= _CAP_K)
        .select("doc_id", "source", "rn")
    )


# --- unigram-LM log-probability scoring (perplexity-style quality) ----------

UNIGRAM_LOGPROB_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
tc AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT count(*) AS n FROM tok)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(CAST(floor(1000 * ln(CAST(tc.c AS DOUBLE) / tot.n))
                AS BIGINT)) AS BIGINT) AS logprob_milli
FROM tok t JOIN tc USING (tok) CROSS JOIN tot
GROUP BY t.doc_id
"""


@query("unigram_logprob", UNIGRAM_LOGPROB_ORACLE)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM log-probability — the classic cheap
    perplexity proxy for quality filtering (docs of rare tokens score
    low / very negative; boilerplate scores high).

    The per-token log-prob uses the tf-idf trick (idf_milli above):
    floor(1000·ln(c/N)) is an integer, so the per-doc sum is exact
    BIGINT arithmetic — order-independent, hash-identical across
    engines — instead of a float sum whose value depends on reduce
    order. Three shuffles total, all map-side combinable: token
    count, token→count join (AQE handles the stopword skew), per-doc
    sum. The vocabulary table stays distributed (corpus-derived, so
    it grows with the data; never broadcast)."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tc = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tok.join(tc, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.floor(
                F.lit(1000.0)
                * F.log(F.col("c").cast("double") / F.col("n"))
            ).cast("long").alias("lp_milli"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks"),
        F.sum("lp_milli").cast("long").alias("logprob_milli"),
    )


# --- per-document token entropy ---------------------------------------------

TOKEN_ENTROPY_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
per AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM per GROUP BY doc_id),
s AS (
  SELECT per.doc_id, n.n_toks, n.n_distinct,
         CAST(sum(c * CAST(floor(1000 * ln(CAST(n.n_toks AS DOUBLE) / c))
                           AS BIGINT)) AS BIGINT) AS entropy_milli_sum
  -- NULL-safe join: the engine's window/groupBy keeps the NULL-id
  -- histogram as its own group, but an equi-join on doc_id silently
  -- dropped it here (round-11 hostile-id probe)
  FROM per JOIN n ON per.doc_id IS NOT DISTINCT FROM n.doc_id
  GROUP BY per.doc_id, n.n_toks, n.n_distinct)
SELECT doc_id, n_toks, n_distinct, entropy_milli_sum,
       CAST(CAST(entropy_milli_sum AS DOUBLE) / n_toks AS DOUBLE)
         AS entropy_milli
FROM s
"""


@query("token_entropy", TOKEN_ENTROPY_ORACLE)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (in
    milli-nats) — the information-theoretic repetitiveness signal
    that complements doc_repetition's Gopher rules: near-zero entropy
    means the doc is one token repeated; high entropy means diverse
    vocabulary. H = (1/n)·Σ c·ln(n/c) over the doc's own histogram.

    Determinism: the per-term weight floor(1000·ln(n/c)) is an
    integer (the unigram_logprob trick), so the per-doc sum is exact
    BIGINT arithmetic — order-independent across any partitioning —
    and the final normalization is one int/int double division.
    Shape: (doc,token) count [map-side combinable], then the per-doc
    token total is a window SUM over the SAME doc_id partitioning the
    final rollup needs (the oracle's `n` CTE states the same
    derivation) — deriving n_toks from a second scan of `documents`
    plus a join re-tokenized the whole corpus for a number the
    histogram already contains (review finding). Everything is keyed
    by doc_id or (doc_id, tok) — no global state, no skew hazard
    beyond a single pathological document, which stays one key's
    work."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    per = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_doc = Window.partitionBy("doc_id")
    s = (
        per.withColumn("n_toks", F.sum("c").over(w_doc).cast("long"))
        .groupBy("doc_id", "n_toks")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(
                F.col("c")
                * F.floor(
                    F.lit(1000.0)
                    * F.log(
                        F.col("n_toks").cast("double") / F.col("c")
                    )
                ).cast("long")
            ).cast("long").alias("entropy_milli_sum"),
        )
    )
    return s.select(
        "doc_id", "n_toks", "n_distinct", "entropy_milli_sum",
        (
            F.col("entropy_milli_sum").cast("double") / F.col("n_toks")
        ).alias("entropy_milli"),
    )


# --- DSIR-style importance-resampling weights --------------------------------

DSIR_ORACLE = f"""
WITH tok AS (SELECT doc_id, lang, unnest({_TOKS}) AS tok FROM documents),
cf AS (SELECT tok, count(*) AS c_f FROM tok GROUP BY tok),
ct AS (SELECT tok, count(*) AS c_t FROM tok WHERE lang = 'en' GROUP BY tok),
tots AS (
  SELECT CAST(count(*) AS BIGINT) AS n_f,
         CAST(count(DISTINCT tok) AS BIGINT) AS v,
         CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS n_t
  FROM tok),
s AS (
  SELECT t.doc_id,
         CAST(floor(1000 * ln(CAST(COALESCE(ct.c_t, 0) + 1 AS DOUBLE)
                              / (tots.n_t + tots.v))) AS BIGINT)
         - CAST(floor(1000 * ln(CAST(cf.c_f + 1 AS DOUBLE)
                                / (tots.n_f + tots.v))) AS BIGINT) AS w
  FROM tok t
  JOIN cf USING (tok)
  LEFT JOIN ct USING (tok)
  CROSS JOIN tots)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(w) AS BIGINT) AS dsir_milli_sum,
       CAST(CAST(sum(w) AS DOUBLE) / count(*) AS DOUBLE) AS dsir_milli
FROM s GROUP BY doc_id
"""


@query("dsir_weights", DSIR_ORACLE)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance weights in the style of DSIR (Xie et
    al., "Data Selection for Language Models via Importance
    Resampling", NeurIPS'23): per document, the average per-token
    log-likelihood ratio between a TARGET unigram LM (here the
    English subcorpus — the domain being selected for) and the
    full-corpus unigram LM, both add-one smoothed over the shared
    vocabulary. Positive = looks more like the target than the
    average document; the weights feed importance resampling of the
    raw corpus toward the target distribution.

    Determinism: both log-probs use the floor(1000·ln(·)) integer
    surrogate, so the per-doc sum is exact BIGINT arithmetic under
    any partitioning; the final per-token average is one int/int
    double division. Shape: two map-side-combinable token counts
    (full + target), token-keyed joins back to the token stream (AQE
    absorbs stopword skew), the three corpus totals ride as ONE
    broadcast scalar row, and the per-doc sum is keyed by doc_id —
    the vocabulary tables stay distributed, nothing corpus-sized is
    ever broadcast or collected."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens("text")).alias("tok")
    )
    cf = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c_f"))
    ct = (
        tok.where(F.col("lang") == "en")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    tots = tok.agg(
        F.count(F.lit(1)).alias("n_f"),
        F.countDistinct("tok").alias("v"),
        F.count(F.when(F.col("lang") == "en", F.lit(1))).alias("n_t"),
    )
    w = (
        tok.join(cf, "tok")
        .join(ct, "tok", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "doc_id",
            (
                F.floor(
                    F.lit(1000.0)
                    * F.log(
                        (F.coalesce("c_t", F.lit(0)) + 1).cast("double")
                        / (F.col("n_t") + F.col("v"))
                    )
                ).cast("long")
                - F.floor(
                    F.lit(1000.0)
                    * F.log(
                        (F.col("c_f") + 1).cast("double")
                        / (F.col("n_f") + F.col("v"))
                    )
                ).cast("long")
            ).alias("w"),
        )
    )
    return w.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks"),
        F.sum("w").cast("long").alias("dsir_milli_sum"),
        (
            F.sum("w").cast("double") / F.count(F.lit(1))
        ).alias("dsir_milli"),
    )


# --- training-shard assignment + balance manifest ----------------------------

_N_SHARDS = 16

SHARD_MANIFEST_ORACLE = f"""
WITH sized AS (
  SELECT doc_id,
         {md5_long_sql("CAST(doc_id AS VARCHAR)")} % {_N_SHARDS} AS shard_id,
         CAST(COALESCE(len({_TOKS}), 0) AS BIGINT) AS n_tokens
  FROM documents
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM sized)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_doc_tokens,
       CAST(CASE WHEN tot.corpus_tokens = 0 THEN 0
            ELSE abs(sum(n_tokens) * {_N_SHARDS} - tot.corpus_tokens) * 1000
                 // tot.corpus_tokens END AS BIGINT) AS dev_permille
FROM sized CROSS JOIN tot
GROUP BY shard_id, tot.corpus_tokens
"""


@query("shard_manifest", SHARD_MANIFEST_ORACLE)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sharding of the corpus into {_N_SHARDS}
    training shards + the balance-audit manifest a shard writer
    publishes: per shard, doc count, token total, largest doc, and
    the deviation from the ideal per-shard token share in exact
    integer permille (|shard·N − corpus| · 1000 div corpus — no
    float division, so both engines agree bit-for-bit).

    Scale shape: hash sharding is the ONLY assignment that needs no
    global coordination — a size-sorted serpentine (LPT) assignment
    would be a single-partition global rank at 100 TB. The manifest
    is what makes hash sharding safe to ship: it MEASURES the
    achieved balance (law of large numbers keeps dev_permille small
    once shards hold thousands of docs) instead of assuming it. One
    map-side-combinable groupBy on shard_id; the corpus total rides
    back as one broadcast row."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id",
        (md5_long(F.col("doc_id").cast("string")) % _N_SHARDS).alias(
            "shard_id"
        ),
        F.coalesce(F.size(tokens("text")), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    tot = sized.agg(
        F.sum("n_tokens").cast("long").alias("corpus_tokens")
    )
    return (
        sized.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.max("n_tokens").cast("long").alias("max_doc_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("shard_id").cast("long").alias("shard_id"),
            "n_docs", "total_tokens", "max_doc_tokens",
            # zero-guarded: an all-empty/NULL-text corpus has
            # corpus_tokens = 0 and the bare div crashes under ANSI
            # (review finding, round 5) — deviation from an empty
            # ideal is defined as 0
            F.expr(
                "CASE WHEN corpus_tokens = 0 THEN 0 ELSE "
                f"abs(total_tokens * {_N_SHARDS} - corpus_tokens) * 1000"
                " div corpus_tokens END"
            ).cast("long").alias("dev_permille"),
        )
    )


# --- HyperLogLog vocabulary sketch -------------------------------------------

# k = 256 registers; the md5_long hash's low 8 bits pick the register,
# bits 8..40 are the 32-bit register value. All constants below are
# exact integers so both engines reproduce every register and the
# estimate bit-for-bit.
_HLL_K = 256
_HLL_VMOD = 1 << 32          # register-value space (W = 32 bits)
_HLL_Z_EMPTY = 1 << 33       # empty register's 2^(33-rho), rho = 0
_HLL_E0_NUM = 1 << 49        # k^2 * 2^33  (k = 2^8)
_HLL_ALPHA_MICRO = 718273    # alpha_256 = 0.7213/(1 + 1.079/256)
_HLL_SMALL = (5 * _HLL_K) // 2  # small-range-correction threshold

VOCAB_SKETCH_ORACLE = f"""
WITH d AS (SELECT source, {_TOKS} AS toks FROM documents),
t AS (SELECT source, unnest(toks) AS tok FROM d),
hv AS (
  SELECT source,
         {md5_long_sql('tok')} % {_HLL_K} AS b,
         ({md5_long_sql('tok')} // {_HLL_K}) % {_HLL_VMOD} AS v
  FROM t
),
regs AS (
  SELECT source, b, min(v) AS m, count(*) AS c
  FROM hv GROUP BY source, b
),
agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST({_HLL_K} - count(*) AS BIGINT) AS empty_registers,
         CAST(sum(CASE WHEN m <= 0 THEN 1
                  ELSE CAST(1 AS BIGINT)
                       << length(to_base(CAST(m AS BIGINT), 2)) END)
              + {_HLL_Z_EMPTY} * ({_HLL_K} - count(*)) AS BIGINT) AS z
  FROM regs GROUP BY source
)
SELECT source, n_tokens, empty_registers,
  CAST(CASE WHEN e <= {_HLL_SMALL} AND empty_registers > 0
       THEN ({_HLL_K} * CAST(floor(1000 * ln(
              CAST({_HLL_K} AS DOUBLE) / empty_registers)) AS BIGINT)
             + 500) // 1000
       ELSE e END AS BIGINT) AS est_distinct
FROM (
  SELECT *,
         (({_HLL_E0_NUM} // z) * {_HLL_ALPHA_MICRO}) // 1000000 AS e
  FROM agg
)
"""


@query("vocab_sketch", VOCAB_SKETCH_ORACLE)
def q_vocab_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token cardinality via a HyperLogLog sketch
    (Flajolet, Fusy, Gandouet, Meunier 2007) — how a 100 TB corpus
    measures its vocabulary WITHOUT a vocabulary-sized shuffle: an
    exact count(DISTINCT tok) must exchange every distinct token;
    this plan's only exchange is ≤ {_HLL_K}·|sources| register rows
    after map-side combine, regardless of corpus size (the same
    one-wide-aggregation shape as the MinHash signatures).

    Everything is integer-exact cross-engine: the register value is
    bits 8..40 of the md5_long hash; max-rho per register derives
    exactly from min(value) (rho is monotone decreasing in the
    value, so max rho = rho(min v) — no per-row rho needed); the
    harmonic mean's dyadic sum Σ2^(33−rho) is an int64 (≥ k, so the
    alpha-scaled estimate stays under 2^61); and the small-range
    linear-counting branch uses the repo's floor(1000·ln(ratio))
    milli-int convention (k/V has only {_HLL_K} possible values,
    all property-pinned). Standard error ≈ 1.04/√k ≈ 6.5 %;
    accuracy vs the exact count is asserted in
    tests/test_vocab_sketch.py. The 32-bit register space defers the
    large-range correction to ~10^8 distinct per source — raise W
    before that scale."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    hv = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .withColumn("h", md5_long(F.col("tok")))
        .select(
            "source",
            F.expr(f"h % {_HLL_K}").alias("b"),
            F.expr(f"(h div {_HLL_K}) % {_HLL_VMOD}").alias("v"),
        )
    )
    regs = hv.groupBy("source", "b").agg(
        F.min("v").alias("m"), F.count(F.lit(1)).alias("c")
    )
    agg = regs.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        (F.lit(_HLL_K) - F.count(F.lit(1)))
        .cast("long")
        .alias("empty_registers"),
        (
            F.sum(
                F.expr(
                    "CASE WHEN m <= 0 THEN 1 ELSE "
                    "shiftleft(CAST(1 AS BIGINT), length(bin(m))) END"
                )
            )
            + F.lit(_HLL_Z_EMPTY)
            * (F.lit(_HLL_K) - F.count(F.lit(1)))
        ).cast("long").alias("z"),
    )
    e = F.expr(
        f"(({_HLL_E0_NUM}L div z) * {_HLL_ALPHA_MICRO}L) div 1000000L"
    )
    est = F.when(
        (e <= _HLL_SMALL) & (F.col("empty_registers") > 0),
        F.expr(
            f"({_HLL_K} * CAST(floor(1000 * ln("
            f"CAST({_HLL_K} AS DOUBLE) / empty_registers)) AS BIGINT)"
            f" + 500) div 1000"
        ),
    ).otherwise(e)
    return agg.select(
        "source", "n_tokens", "empty_registers",
        est.cast("long").alias("est_distinct"),
    )


# --- HLL set operations: cross-source vocabulary overlap ----------------------

# Register-wise merge is the property that makes HLL the sketch of
# choice for DISTRIBUTED distinct counting: min(m_A[b], m_B[b]) is
# exactly the register table of A ∪ B, so union cardinality needs no
# re-scan — and |A ∩ B| = |A| + |B| − |A ∪ B| by inclusion-exclusion.

_HLL_EST_DUCK = f"""
CAST(CASE WHEN e{{0}} <= {_HLL_SMALL} AND v{{0}} > 0
     THEN ({_HLL_K} * CAST(floor(1000 * ln(
            CAST({_HLL_K} AS DOUBLE) / v{{0}})) AS BIGINT) + 500) // 1000
     ELSE e{{0}} END AS BIGINT)
"""

VOCAB_OVERLAP_ORACLE = f"""
WITH d AS (SELECT source, {_TOKS} AS toks FROM documents),
t AS (SELECT source, unnest(toks) AS tok FROM d),
hv AS (
  SELECT source,
         {md5_long_sql('tok')} % {_HLL_K} AS b,
         ({md5_long_sql('tok')} // {_HLL_K}) % {_HLL_VMOD} AS v
  FROM t
),
regs AS (SELECT source, b, min(v) AS m FROM hv GROUP BY source, b),
zs AS (
  SELECT source,
         CAST({_HLL_K} - count(*) AS BIGINT) AS v1,
         CAST(sum(CASE WHEN m <= 0 THEN 1
                  ELSE CAST(1 AS BIGINT)
                       << length(to_base(CAST(m AS BIGINT), 2)) END)
              + {_HLL_Z_EMPTY} * ({_HLL_K} - count(*)) AS BIGINT) AS z
  FROM regs GROUP BY source
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM zs a JOIN zs b ON a.source < b.source
),
uregs AS (
  SELECT p.source_a, p.source_b, r.b, min(r.m) AS m
  FROM pairs p JOIN regs r ON r.source IN (p.source_a, p.source_b)
  GROUP BY p.source_a, p.source_b, r.b
),
uz AS (
  SELECT source_a, source_b,
         CAST({_HLL_K} - count(*) AS BIGINT) AS v1,
         CAST(sum(CASE WHEN m <= 0 THEN 1
                  ELSE CAST(1 AS BIGINT)
                       << length(to_base(CAST(m AS BIGINT), 2)) END)
              + {_HLL_Z_EMPTY} * ({_HLL_K} - count(*)) AS BIGINT) AS z
  FROM uregs GROUP BY source_a, source_b
),
es AS (
  SELECT source,
         {_HLL_EST_DUCK.format('')} AS est
  FROM (SELECT source, v1 AS v,
               (({_HLL_E0_NUM} // z) * {_HLL_ALPHA_MICRO}) // 1000000 AS e
        FROM zs)
),
eu AS (
  SELECT source_a, source_b,
         {_HLL_EST_DUCK.format('')} AS est_union
  FROM (SELECT source_a, source_b, v1 AS v,
               (({_HLL_E0_NUM} // z) * {_HLL_ALPHA_MICRO}) // 1000000 AS e
        FROM uz)
)
SELECT u.source_a, u.source_b, u.est_union,
       CAST(greatest(0, ea.est + eb.est - u.est_union) AS BIGINT)
         AS est_intersect,
       CAST(CASE WHEN u.est_union = 0 THEN 0
            ELSE greatest(0, ea.est + eb.est - u.est_union) * 1000
                 // u.est_union END AS BIGINT) AS jaccard_milli
FROM eu u
JOIN es ea ON ea.source = u.source_a
JOIN es eb ON eb.source = u.source_b
"""


def _hll_z_agg(*keys):
    """(v1, z) aggregation over a register table grouped by ``keys`` —
    the shared reduction of vocab_sketch / vocab_overlap_sketch."""
    return [
        (F.lit(_HLL_K) - F.count(F.lit(1))).cast("long").alias("v1"),
        (
            F.sum(
                F.expr(
                    "CASE WHEN m <= 0 THEN 1 ELSE "
                    "shiftleft(CAST(1 AS BIGINT), length(bin(m))) END"
                )
            )
            + F.lit(_HLL_Z_EMPTY) * (F.lit(_HLL_K) - F.count(F.lit(1)))
        ).cast("long").alias("z"),
    ]


def _hll_est_col() -> "F.Column":
    """est column from (z, v1) — alpha-scaled harmonic mean with the
    small-range linear-counting branch (identical formula to the
    DuckDB twin; see vocab_sketch)."""
    e = F.expr(
        f"(({_HLL_E0_NUM}L div z) * {_HLL_ALPHA_MICRO}L) div 1000000L"
    )
    return F.when(
        (e <= _HLL_SMALL) & (F.col("v1") > 0),
        F.expr(
            f"({_HLL_K} * CAST(floor(1000 * ln("
            f"CAST({_HLL_K} AS DOUBLE) / v1)) AS BIGINT) + 500) div 1000"
        ),
    ).otherwise(e).cast("long")


@query("vocab_overlap_sketch", VOCAB_OVERLAP_ORACLE)
def q_vocab_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap from HLL register merges — the
    SKETCH twin of source_overlap (exact distinct-shingle pair
    counts): per source pair, estimated union and intersection
    cardinality of the token vocabularies plus the milli-Jaccard,
    from register-wise min-merges alone. At 100 TB the corpus is
    scanned ONCE (the same ≤ {_HLL_K}-registers-per-source reduction
    as vocab_sketch); every pairwise union then costs a merge of two
    256-row register vectors — no re-scan per pair, the property
    that makes HLL the standard distributed-distinct sketch.
    |A ∩ B| = |A| + |B| − |A ∪ B| (inclusion-exclusion, clamped at
    0 since sketch noise can push it negative).

    Plan shape: the pair × register expansion is an EQUI-join (pairs
    exploded to (pair, source) rows, joined on source) — never a
    nested-loop IN-join — and is bounded by |pairs| · {_HLL_K} rows
    of longs. All arithmetic is the integer-exact HLL formula shared
    with vocab_sketch."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    regs = (
        docs.select("source", F.explode(tokens("text")).alias("tok"))
        .withColumn("h", md5_long(F.col("tok")))
        .select(
            "source",
            F.expr(f"h % {_HLL_K}").alias("b"),
            F.expr(f"(h div {_HLL_K}) % {_HLL_VMOD}").alias("v"),
        )
        .groupBy("source", "b")
        .agg(F.min("v").alias("m"))
    )
    # registers are tiny (<= 256 rows/source) but feed three
    # consumers (per-source estimates, the pair list, the union
    # merge) — cache so the token scan runs once; held until the next
    # clear, so bench's re-run (a MEMO_OWNER) cannot read it
    regs = hold(regs.cache())
    es = (
        regs.groupBy("source").agg(*_hll_z_agg())
        .select("source", _hll_est_col().alias("est"))
    )
    srcs = regs.select("source").where(F.col("source").isNotNull()).distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .join(
            srcs.select(F.col("source").alias("source_b")),
            F.col("source_a") < F.col("source_b"),
        )
    )
    # equi-join shape: each pair contributes its two member sources
    p2 = pairs.select(
        "source_a", "source_b",
        F.explode(F.array("source_a", "source_b")).alias("source"),
    )
    uregs = (
        p2.join(regs, "source")
        .groupBy("source_a", "source_b", "b")
        .agg(F.min("m").alias("m"))
    )
    eu = (
        uregs.groupBy("source_a", "source_b").agg(*_hll_z_agg())
        .select("source_a", "source_b", _hll_est_col().alias("est_union"))
    )
    ea = es.select(F.col("source").alias("source_a"), F.col("est").alias("ea"))
    eb = es.select(F.col("source").alias("source_b"), F.col("est").alias("eb"))
    inter = F.greatest(
        F.lit(0).cast("long"),
        F.col("ea") + F.col("eb") - F.col("est_union"),
    )
    return (
        eu.join(F.broadcast(ea), "source_a")
        .join(F.broadcast(eb), "source_b")
        .select(
            "source_a", "source_b", "est_union",
            inter.alias("est_intersect"),
            F.when(F.col("est_union") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "greatest(CAST(0 AS BIGINT), ea + eb - est_union)"
                    " * 1000 div est_union"
                )
            ).cast("long").alias("jaccard_milli"),
        )
    )


# --- BPE merge statistics (adjacent-pair counts) -----------------------------

# The first step of every BPE tokenizer train run: corpus-weighted
# adjacent-symbol-pair frequencies over the VOCABULARY (distinct
# words × their corpus counts), the table the merge rule argmaxes
# over. Tokens are gated to printable ASCII (both engines index
# substrings identically there; cross-engine substring semantics on
# astral codepoints differ — same ASCII-parity scope as the
# tokenizer seam, see functions/textfns.WS_RE).

_BPE_TOP = 50
_BPE_TOK_GATE = "^[!-~]+$"

BPE_PAIR_COUNTS_ORACLE = f"""
WITH w AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest({_TOKS}) AS tok FROM documents)
  WHERE regexp_matches(tok, '{_BPE_TOK_GATE}') AND length(tok) >= 2
  GROUP BY tok
),
p AS (
  SELECT unnest(list_transform(
           generate_series(1, length(tok) - 1),
           i -> substring(tok, i, 2))) AS pair,
         n
  FROM w
)
SELECT pair, CAST(sum(n) AS BIGINT) AS n_occ
FROM p GROUP BY pair
ORDER BY n_occ DESC, pair LIMIT {_BPE_TOP}
"""


@query("bpe_pair_counts", BPE_PAIR_COUNTS_ORACLE)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_BPE_TOP} adjacent character pairs by corpus-weighted
    frequency — the argmax table of a BPE tokenizer's first merge
    step, computed the way real trainers do: over the vocabulary with
    word counts as weights, never re-walking the corpus per pair.

    Scale shape: one corpus-wide token explode feeds a map-side-
    combinable groupBy (vocab-bounded output, the word_freq shuffle);
    the pair explode then runs over DISTINCT words only, and the
    final aggregate's key space is bounded by the visible-ASCII
    alphabet squared (≤ ~9k pairs) regardless of corpus size, so the
    second shuffle is constant-size. The global top-{_BPE_TOP} is a
    limit over that bounded table (per-partition take-ordered, no
    full sort)."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    w = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .where(
            F.col("tok").rlike(_BPE_TOK_GATE) & (F.length("tok") >= 2)
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    pairs = w.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("long").alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("pair"))
        .limit(_BPE_TOP)
    )


# --- language-label confusion matrix --------------------------------------------

# The label-quality audit over lang_id: where the stored `lang` label
# and the marker classifier disagree — rendered as the standard
# row-normalized confusion matrix, exact in permille. Reuses the
# lang_id plan verbatim (one scan-side classifier, zero joins); the
# matrix aggregate is bounded by |langs|² cells.
LANG_CONFUSION_ORACLE = f"""
WITH ids AS ({LANG_ID_ORACLE}),
cells AS (
  SELECT lang_true, lang_pred, CAST(count(*) AS BIGINT) AS n
  FROM ids GROUP BY lang_true, lang_pred
)
SELECT lang_true, lang_pred, n,
       CAST(n * 1000 // sum(n) OVER (PARTITION BY lang_true) AS BIGINT)
         AS row_permille,
       CAST(CASE WHEN lang_true IS NOT DISTINCT FROM lang_pred
            THEN 1 ELSE 0 END AS BIGINT) AS agree
FROM cells
"""


@query("lang_confusion", LANG_CONFUSION_ORACLE)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stored label, predicted language) confusion cells with exact
    row-normalized permille — the audit that finds mislabeled
    sources before they skew a language-balanced mixing schedule.
    NULL stored labels form their own row (they are exactly the rows
    the classifier is FOR); agreement uses null-safe equality.

    Shape: the lang_id classifier rides the scan; one
    vocabulary-bounded aggregate; the row-normalization window runs
    over ≤ |langs|+1 partitions of ≤ |langs|+1 rows."""
    ids = q_lang_id(spark, sf_dir)
    cells = ids.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return cells.select(
        "lang_true", "lang_pred", "n",
        F.expr(
            "CAST(n * 1000 div sum(n) OVER (PARTITION BY lang_true)"
            " AS BIGINT)"
        ).alias("row_permille"),
        F.when(
            F.col("lang_true").eqNullSafe(F.col("lang_pred")), 1
        ).otherwise(0).cast("long").alias("agree"),
    )


# --- boilerplate / template detection ----------------------------------------

_PREFIX_TOKENS = 8

BOILERPLATE_PREFIX_ORACLE = f"""
WITH pref AS (
  SELECT source,
         array_to_string(({_TOKS})[1:{_PREFIX_TOKENS}], ' ') AS prefix
  FROM documents WHERE len({_TOKS}) > 0
),
pc AS (
  SELECT source, prefix, count(*) AS cnt
  FROM pref GROUP BY source, prefix
),
sel AS (
  SELECT source, prefix, cnt,
         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_docs,
         row_number() OVER (
           PARTITION BY source ORDER BY cnt DESC, prefix) AS rn
  FROM pc
)
SELECT source, n_docs, prefix AS top_prefix,
       CAST(cnt AS BIGINT) AS prefix_docs,
       CAST(cnt AS BIGINT) * 1000 // n_docs AS share_permille
FROM sel WHERE rn = 1
"""


@query("boilerplate_prefix", BOILERPLATE_PREFIX_ORACLE)
def q_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection, the C4/RefinedWeb curation
    step: per source, the most common first-{_PREFIX_TOKENS}-token
    prefix and the permille of the source's documents that open with
    it — a high share means the crawler is re-ingesting a templated
    page (cookie banners, listing shells) and the source needs a
    strip rule.

    Scale shape: docs collapse to (source, prefix) COUNTS first
    (map-side combinable — the corpus-cardinality stage is one
    groupBy), then the top-1 and the per-source total both run as
    windows over the collapsed count table, partitioned BY source.
    Ties at the max count break lexicographically so the winner is
    total. Short docs (< {_PREFIX_TOKENS} tokens) use their full
    token list; both engines slice inclusively to min(len, k)."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    toks = tokens("text")
    pref = docs.where(F.size(toks) > 0).select(
        "source",
        F.array_join(F.slice(toks, 1, _PREFIX_TOKENS), " ").alias("prefix"),
    )
    pc = pref.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_tot = Window.partitionBy("source")
    w_top = Window.partitionBy("source").orderBy(
        F.desc("cnt"), F.asc("prefix")
    )
    sel = pc.select(
        "source", "prefix", "cnt",
        F.sum("cnt").over(w_tot).cast("long").alias("n_docs"),
        F.row_number().over(w_top).alias("rn"),
    )
    return sel.where(F.col("rn") == 1).select(
        "source", "n_docs",
        F.col("prefix").alias("top_prefix"),
        F.col("cnt").cast("long").alias("prefix_docs"),
        F.expr("CAST(cnt AS BIGINT) * 1000 div n_docs").alias(
            "share_permille"
        ),
    )
