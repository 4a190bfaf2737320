"""Estimator acceptance audits: is the sketch math actually calibrated
on THIS corpus?

``ann_recall`` plays this role for the vector indexes and
``count_min_hitters`` audits its own overestimate; this module adds
the missing one: ``minhash_calibration`` — MinHash's core guarantee
is E[matching components / k] = Jaccard(A, B), and a pipeline that
tunes LSH band thresholds off signature agreement is silently
mis-tuned if that identity drifts (bad permutation family, hash
bias, shingle bugs). The audit compares, for every LSH candidate
pair, the k=16-component signature agreement against the EXACT
shingle-set Jaccard, bucketed by agreement level — 17 output rows
that say "pairs whose signatures agree on 12/16 components have true
Jaccard ~750 permille", or expose the estimator as broken.

100 TB shape: runs at the DISTINCT-TEXT representative level (the
same `_dup_collapse` every similarity operator uses — duplicates
tell us nothing about estimator quality and would quadratically
inflate the pair set); candidate pairs come from the banded LSH
equi-join (never all-pairs); the exact-Jaccard join expands each
pair by ONE side's shingle set (~50 rows/pair); the final aggregate
is 17 rows. Integer-exact throughout: agreement is a component
count, Jaccard is (inter * 1000) // union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psx_data_pipeline_spark.functions.hashing import HASH_P
from psx_data_pipeline_spark.functions.textfns import word_shingles
from psx_data_pipeline_spark.operators.dedup import (
    _dup_collapse,
    band_signatures,
    minhash_signature_array,
)
from psx_data_pipeline_spark.plans.dedup import (
    _MD5_LONG,
    _PERM_VALUES,
    _RPB,
    _SHINGLES,
)
from psx_data_pipeline_spark.plans.registry import query
from psx_data_pipeline_spark.session import hold
from psx_data_pipeline_spark.sources.fixtures import load_table_parallel

_K = 16  # signature length — matches minhash_lsh_pairs

MINHASH_CALIBRATION_ORACLE = f"""
WITH reps AS (
  SELECT min(doc_id) AS id, text FROM documents
  WHERE text IS NOT NULL GROUP BY text
),
sh AS (
  SELECT id, unnest(list_distinct({_SHINGLES})) AS sh FROM reps
),
h AS (
  SELECT id, {_MD5_LONG.format('sh')} % {HASH_P} AS h FROM sh
),
perms AS (SELECT * FROM (VALUES {_PERM_VALUES}) AS p(i, a, b)),
sig AS (
  SELECT id, i, MIN((a * h + b) % {HASH_P}) AS minv
  FROM h CROSS JOIN perms GROUP BY id, i
),
bsig AS (
  SELECT id, CAST(i // {_RPB} AS INT) AS band,
         string_agg(CAST(minv AS VARCHAR), ',' ORDER BY i) AS bsig
  FROM sig GROUP BY 1, 2
),
pairs AS (
  SELECT DISTINCT a.id AS ia, b.id AS ib
  FROM bsig a JOIN bsig b ON a.band = b.band AND a.bsig = b.bsig
  WHERE a.id < b.id
),
est AS (
  SELECT p.ia, p.ib,
         sum(CASE WHEN sa.minv = sb.minv THEN 1 ELSE 0 END) AS est_k
  FROM pairs p
  JOIN sig sa ON sa.id = p.ia
  JOIN sig sb ON sb.id = p.ib AND sb.i = sa.i
  GROUP BY p.ia, p.ib
),
sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT p.ia, p.ib, count(*) AS ni
  FROM pairs p
  JOIN sh x ON x.id = p.ia
  JOIN sh y ON y.id = p.ib AND y.sh = x.sh
  GROUP BY p.ia, p.ib
),
j AS (
  SELECT e.est_k,
         (coalesce(i.ni, 0) * 1000)
           // (sa.n + sb.n - coalesce(i.ni, 0)) AS exact_pm
  FROM est e
  LEFT JOIN inter i ON i.ia = e.ia AND i.ib = e.ib
  JOIN sizes sa ON sa.id = e.ia
  JOIN sizes sb ON sb.id = e.ib
)
SELECT CAST(est_k AS BIGINT) AS est_matches,
       CAST((est_k * 1000) // {_K} AS BIGINT) AS est_permille,
       count(*) AS n_pairs,
       CAST(sum(exact_pm) // count(*) AS BIGINT) AS avg_exact_permille,
       CAST(min(exact_pm) AS BIGINT) AS min_exact_permille,
       CAST(max(exact_pm) AS BIGINT) AS max_exact_permille
FROM j GROUP BY est_k
"""


@query("minhash_calibration", MINHASH_CALIBRATION_ORACLE)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-agreement vs exact-Jaccard calibration table over
    the LSH candidate pairs (module docstring)."""
    docs = load_table_parallel(spark, "documents", sf_dir, "doc_id")
    grouped, reps, _members = _dup_collapse(docs, "text", "doc_id")
    rdocs = reps.select(
        F.col("id").alias("doc_id"), F.col("__txt").alias("text")
    )
    # ONE aggregation produces the array signature; band signatures
    # are a slice projection of it and component agreement a zip_with
    # — the former stack-rows form re-aggregated for bsig and
    # exploded every candidate pair 16× through a groupBy
    sig = minhash_signature_array(rdocs, "text", "doc_id", k=_K).persist()
    band_sig = band_signatures(sig, _K // _RPB, _RPB)
    pairs = (
        band_sig.select(F.col("id").alias("ia"), "band", "bsig")
        .join(band_sig.select(F.col("id").alias("ib"), "band", "bsig"),
              ["band", "bsig"])
        .where(F.col("ia") < F.col("ib"))
        .select("ia", "ib")
        .distinct()
        .localCheckpoint(eager=True)
    )
    est = (
        pairs
        .join(sig.select(F.col("id").alias("ia"), F.col("sig").alias("sa")),
              "ia")
        .join(sig.select(F.col("id").alias("ib"), F.col("sig").alias("sb")),
              "ib")
        .select(
            "ia", "ib",
            F.expr(
                "size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b))"
            ).cast("long").alias("est_k"),
        )
    )
    sh = rdocs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(word_shingles("text", 3))).alias("sh"),
    ).persist()
    # sizes is read twice (the na and nb joins) — one |reps|-row count
    # table, cached so the shingle explode behind it runs once
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n")).persist()
    inter = (
        pairs
        .join(sh.select(F.col("id").alias("ia"), "sh"), "ia")
        .join(sh.select(F.col("id").alias("ib"), "sh"), ["ib", "sh"])
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    j = (
        est
        # inter is bounded by the LSH candidate-pair set (output-bound,
        # kilobytes) but sits behind a groupBy whose size estimate the
        # planner inflates to the corpus scan — it picked a
        # SortMergeJoin (sort + exchange on BOTH pair-bounded sides)
        # for this left join in the round-12 plan capture. The
        # explicit hint makes it the build side of a broadcast join
        # (guide §3.1: estimates are often wrong after aggregation —
        # hint when you know the side is small).
        .join(F.broadcast(inter), ["ia", "ib"], "left")
        .join(sizes.select(F.col("id").alias("ia"), F.col("n").alias("na")),
              "ia")
        .join(sizes.select(F.col("id").alias("ib"), F.col("n").alias("nb")),
              "ib")
        .select(
            "est_k",
            F.expr("(coalesce(ni, 0) * 1000) div (na + nb - coalesce(ni, 0))")
            .alias("exact_pm"),
        )
    )
    out = j.groupBy("est_k").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("sum(exact_pm) div count(*)").alias("avg_exact_permille"),
        F.min("exact_pm").alias("min_exact_permille"),
        F.max("exact_pm").alias("max_exact_permille"),
    ).select(
        F.col("est_k").cast("long").alias("est_matches"),
        F.expr(f"CAST((est_k * 1000) div {_K} AS BIGINT)")
        .alias("est_permille"),
        "n_pairs",
        F.col("avg_exact_permille").cast("long").alias("avg_exact_permille"),
        F.col("min_exact_permille").cast("long").alias("min_exact_permille"),
        F.col("max_exact_permille").cast("long").alias("max_exact_permille"),
    )
    # Round 13 (guide §2.4/§5): these persists used to be RELEASED
    # here — at plan-construction time, BEFORE the returned plan ever
    # executed, so only the eager `pairs` checkpoint benefited and the
    # executed plan rebuilt the signature subtree 2x (est's sa/sb
    # joins) and the shingle subtree 4x (sizes x2 + inter's two
    # sides): 6 full scan+window+aggregate passes where two cached
    # tables serve all (round-12 plan dump, `minhash_calibration`).
    # They are held for the session instead, with the pairs checkpoint
    # the plan also reads; memory is bounded by the distinct-text
    # corpus, and clear_session_memos releases them before any
    # re-measurement (minhash_calibration is a MEMO_OWNER).
    for df in (grouped, sig, pairs, sh, sizes):
        hold(df)
    return out
