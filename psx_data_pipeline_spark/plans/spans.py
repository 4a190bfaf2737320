"""Cross-document duplicated-span analysis over ``documents`` — the
exact-substring layer of training-data dedup that MinHash/SimHash
(whole-doc, approximate) do not cover.

Three operators:

* ``dup_span_fraction`` — per document, the fraction of token
  positions covered by at least one K-token shingle that also occurs
  in ANOTHER document (the "duplicated text fraction" used to decide
  trim-vs-drop in exact-substring dedup of pretraining corpora).
* ``heavy_shingles`` — corpus-wide frequent-phrase mining: every
  K-token shingle whose count exceeds n/PHI of all shingle
  occurrences (boilerplate detection — license headers, navigation
  chrome, template text). Exact answer via heavy-bucket candidate
  pruning + a restricted exact recount.
* ``source_overlap`` — the cross-SOURCE contamination matrix: for
  every source pair, the count of distinct shingles both publish
  (which crawl sources republish each other's content).

Scale design (100 TB): both operators avoid shuffling raw shingle
strings corpus-wide. ``dup_span_fraction`` first aggregates on the
64-bit xxhash of the shingle (8-byte keys, map-side combined) to find
candidate cross-doc hashes, then verifies the (rare) candidates on
the true string — false positives from hash collisions die in the
verify step, so the result is exact. ``heavy_shingles`` counts
xxhash64 BUCKETS of the shingle stream first (a bounded-width,
map-side-combinable aggregate — its exchange is constant-size at any
corpus); the < PHI buckets over threshold provably contain every
global heavy hitter, and only shingles in those buckets are
recounted exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psx_data_pipeline_spark.functions.textfns import TOKENS_SQL, tokens, word_shingles
from psx_data_pipeline_spark.plans.registry import query
from psx_data_pipeline_spark.session import hold
from psx_data_pipeline_spark.sources.fixtures import load_table_parallel

_TOKS = TOKENS_SQL.format("text")


# --- duplicated-span fraction ------------------------------------------------

_SPAN_K = 5  # shingle width: spans shorter than this are not "duplication"

DUP_SPAN_ORACLE = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, CAST(p AS INT) AS pos,
         array_to_string(list_slice(toks, p, p + {_SPAN_K} - 1), ' ') AS shingle
  FROM d, LATERAL (SELECT unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS p) u
  WHERE len(toks) >= {_SPAN_K}
),
dup AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) > 1
),
cov AS (
  SELECT DISTINCT s.doc_id, CAST(p2 AS INT) AS p2
  FROM sh s JOIN dup USING (shingle),
       LATERAL (SELECT unnest(range(s.pos, s.pos + {_SPAN_K})) AS p2) v
)
,
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_toks
  FROM cov GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(len(d.toks), 0) AS BIGINT) AS n_toks,
       CAST(COALESCE(per.dup_toks, 0) AS BIGINT) AS dup_toks,
       CASE WHEN COALESCE(len(d.toks), 0) = 0 THEN 0.0 ELSE
         CAST(CAST(COALESCE(per.dup_toks, 0) AS DOUBLE)
              / len(d.toks) AS DOUBLE)
       END AS dup_frac
FROM d LEFT JOIN per USING (doc_id)
"""
# the final projection is one row PER INPUT ROW (the engine joins the
# per-id coverage back to each physical document row): the earlier
# `GROUP BY d.doc_id, len(toks)` silently merged duplicate-id twins
# that happened to share a length (round-11 hostile-id class)


@query("dup_span_fraction", DUP_SPAN_ORACLE)
def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication measure: per doc, how many token
    positions sit inside a {_SPAN_K}-gram that some OTHER document
    also contains.

    Plan: positional shingles → (1) candidate filter grouped on
    xxhash64(shingle) — min(doc)≠max(doc) keeps exactly the hashes
    that span documents, an 8-byte-key map-side-combinable aggregate;
    (2) the candidate subset (tiny: true dups + rare collisions) is
    re-grouped on the real string to kill collision false positives;
    (3) surviving occurrences explode to covered positions, distinct,
    count per doc. The full shingle text is never shuffled — only
    hashes and the verified-candidate residue move.
    """
    docs = load_table_parallel(spark, "documents", sf_dir)
    d = docs.select("doc_id", tokens("text").alias("toks")).withColumn(
        "n_toks", F.size("toks")
    )
    k = _SPAN_K
    sh = (
        d.where(F.col("n_toks") >= k)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n_toks") - (k - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.concat_ws(" ", F.slice("toks", i, k)).alias("shingle"),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.shingle")
        .withColumn("h", F.xxhash64("shingle"))
    )
    # (1) cross-doc candidate hashes: 8-byte group keys, partial agg.
    # The scan+tokenize+explode shingle subtree appears 5× in the
    # physical plan (10 parquet scans, zero ReusedExchange) because
    # each broadcast build re-executes its lineage. Tried and
    # REVERTED (round 12, guide §1.1): eagerly checkpointing the two
    # dup-bounded broadcast tables cut the scans 10 → 4 but measured
    # 2.85 vs 2.29 s min-of-3 at sf0.1 — the broadcast builds execute
    # CONCURRENTLY inside the main job, so the redundant subtrees
    # overlap in wall time, while the eager checkpoints serialize two
    # upfront jobs (the PQ-codebook lesson, OPTIMIZATION_r12.md §12).
    # Round 13 (VERDICT ask #7, guide §2.4/§5): the two dup-bounded
    # broadcast build sides get a LAZY persist — first use
    # materializes inside the main job (no upfront serialized job,
    # which is what sank both r12 eager-checkpoint experiments), and
    # the second reference reads the cached partitions instead of
    # re-deriving the shingle subtree. cand_h is read by shc's two
    # consumers (the dup build and cov); dup by cov. Both are bounded
    # by the true cross-doc duplicate residue, and held until the next
    # clear_session_memos (dup_span_fraction is a MEMO_OWNER).
    cand_h = hold(
        sh.groupBy("h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .where(F.col("mn") != F.col("mx"))
        .select("h")
        .persist()
    )
    shc = sh.join(cand_h, "h", "left_semi")
    # (2) exact verify on the candidate residue only
    dup = hold(
        shc.groupBy("shingle")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .where(F.col("mn") != F.col("mx"))
        .select("shingle")
        .persist()
    )
    # (3) covered positions, de-overlapped per doc
    cov = (
        shc.join(dup, "shingle", "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence("pos", F.col("pos") + (k - 1))).alias("p2"),
        )
        .distinct()
    )
    per = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dup_toks"))
    return (
        d.select("doc_id", "n_toks")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_toks", F.lit(0)).cast("long").alias("n_toks"),
            F.coalesce("dup_toks", F.lit(0)).cast("long").alias("dup_toks"),
            # zero-token (or NULL-text) docs: dup coverage is 0.0 by
            # definition — the when() also keeps ANSI division-by-
            # zero out of the plan (empty doc crashed the query;
            # hostile-probe finding)
            F.when(
                F.coalesce("n_toks", F.lit(0)) == 0, F.lit(0.0)
            ).otherwise(
                F.coalesce("dup_toks", F.lit(0)).cast("double")
                / F.col("n_toks")
            ).alias("dup_frac"),
        )
    )


# --- heavy shingles (frequent-phrase / boilerplate mining) -------------------

_HH_K = 4       # phrase width
_HH_PHI = 10_000  # report shingles with count > n/PHI


HEAVY_SHINGLES_ORACLE = f"""
WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT array_to_string(list_slice(toks, p, p + {_HH_K} - 1), ' ') AS shingle
  FROM d, LATERAL (SELECT unnest(range(1, len(toks) - {_HH_K} + 2)) AS p) u
  WHERE len(toks) >= {_HH_K}
),
tot AS (SELECT count(*) AS n FROM sh)
SELECT shingle, CAST(count(*) AS BIGINT) AS cnt,
       CAST(CAST(count(*) AS DOUBLE) / tot.n AS DOUBLE) AS freq
FROM sh CROSS JOIN tot
GROUP BY shingle, tot.n
HAVING count(*) * {_HH_PHI} > tot.n
"""


# Heavy-bucket prefilter width. Shingles hash into _HH_W buckets;
# buckets whose TOTAL count exceeds n/PHI number < PHI (they partition
# n), and a heavy shingle's bucket count >= its own count, so heavy
# buckets are a guaranteed-recall candidate filter. The exact recount
# then touches only shingles in heavy buckets — an expected
# PHI·V/_HH_W fraction of the vocabulary V (~V/100 at these
# constants); raise _HH_W as V grows (the bucket-count shuffle is
# _HH_W rows of two longs regardless of corpus size).
_HH_W = 1 << 20


@query("heavy_shingles", HEAVY_SHINGLES_ORACLE)
def q_heavy_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent {_HH_K}-gram phrases above the n/{_HH_PHI} support
    threshold — boilerplate/template detection for corpus curation.

    Two-pass exact heavy hitters, ALL native expressions (an earlier
    version ran a per-partition Misra-Gries sketch in mapInPandas —
    correct, but the only Python worker round-trip outside the codec
    seam): pass one counts xxhash64 BUCKETS of the shingle stream
    (map-side combinable; the exchange is ≤ {_HH_W} rows of two longs
    at ANY corpus size, and per-task state is bounded by the bucket
    space, the same bounded-memory contract the MG sketch gave); the
    < PHI buckets exceeding the threshold ride back as one broadcast.
    Pass two exact-counts ONLY shingles falling in heavy buckets —
    count(shingle) <= count(bucket(shingle)) makes the filter
    guaranteed-recall, and the recount + threshold make the output
    exact and partitioning-independent — byte-identical to the
    oracle's direct GROUP BY. Raw shingle strings are never shuffled
    corpus-wide: the recount's map-side combine compresses to the
    candidate vocabulary before its exchange.
    """
    docs = load_table_parallel(spark, "documents", sf_dir)
    sh = docs.where(F.size(tokens("text")) >= _HH_K).select(
        F.explode(word_shingles("text", _HH_K)).alias("shingle")
    ).withColumn("bucket", F.expr(f"pmod(xxhash64(shingle), {_HH_W})"))
    bcnt = sh.groupBy("bucket").agg(F.count(F.lit(1)).alias("bcnt"))
    # total shingle count once, reused by the bucket filter AND the
    # final threshold/freq projection
    tot_row = docs.agg(
        F.sum(
            F.greatest(
                F.size(tokens("text")) - (_HH_K - 1), F.lit(0)
            ).cast("long")
        ).alias("n")
    )
    heavy_b = (
        bcnt.crossJoin(F.broadcast(tot_row))
        .where(F.col("bcnt") * _HH_PHI > F.col("n"))
        .select("bucket")
    )
    counts = (
        sh.join(F.broadcast(heavy_b), "bucket", "left_semi")
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(tot_row))
        .where(F.col("cnt") * _HH_PHI > F.col("n"))
        .select(
            "shingle",
            F.col("cnt").cast("long").alias("cnt"),
            (F.col("cnt").cast("double") / F.col("n")).alias("freq"),
        )
    )


# --- cross-source overlap matrix ---------------------------------------------

SOURCE_OVERLAP_ORACLE = f"""
WITH d AS (SELECT source, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT DISTINCT source,
         array_to_string(list_slice(toks, p, p + {_SPAN_K} - 1), ' ') AS shingle
  FROM d, LATERAL (SELECT unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS p) u
  WHERE len(toks) >= {_SPAN_K}
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS shared_shingles
FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
GROUP BY a.source, b.source
"""


@query("source_overlap", SOURCE_OVERLAP_ORACLE)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance forensics: for every source pair, how many distinct
    {_SPAN_K}-gram shingles they share — the contamination matrix
    that shows which crawl sources republish each other's content
    (the cross-source analogue of dup_span_fraction's per-doc view).

    Scale shape: shingles collapse to DISTINCT (source, shingle)
    first, so a shingle repeated a million times inside one source
    contributes ONE row — the self-join's per-shingle fan-out is
    bounded by the number of sources sharing it (the dimension being
    measured), never by raw occurrence counts. The equi-join on
    shingle is a plain hash join; the result is at most
    |sources|²/2 rows. At extreme source cardinality the same
    pre-collapse + count(shingles shared) shape holds — the join key
    could further move to xxhash64(shingle) with a string verify
    (the dup_span_fraction trick) if shingle-string shuffle width
    ever dominates."""
    docs = load_table_parallel(spark, "documents", sf_dir)
    k = _SPAN_K
    sh = (
        docs.where(F.size(tokens("text")) >= k)
        .select(
            "source",
            F.explode(word_shingles("text", k)).alias("shingle"),
        )
        .distinct()
    )
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    return (
        a.join(b, "shingle")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
