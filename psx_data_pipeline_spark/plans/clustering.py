"""Embedding clustering: k-means with a fixed, unrolled iteration
count — the topic-bucketing / SemDeDup-style corpus organization step
(cluster the embedding space, then balance or dedup within clusters).

Iterative algorithms on Spark unroll into a fixed number of
dataflow stages (same approach as pagerank_sim's three power steps):
three assign/update rounds from a deterministic seed — the K
smallest vec_ids — then a final assignment that yields per-cluster
statistics. Every quantity is integer-exact so both engines agree
bit-for-bit regardless of partitioning:

  * components quantized once to milli ints: floor(x·1000) BIGINT;
  * distance = Σ (qᵢ-cᵢ)² over 64 dims — exact BIGINT (milli values
    ≤ 1e5, so the 64-term sum ≤ 2.6e12, far inside int64);
  * argmin via one packed MIN: dist·K + (cid-1) — ties broken by
    centroid id, no float compare anywhere;
  * centroid update = per-dimension truncating integer mean (div),
    computed as 64 map-side-combinable SUM columns — NOT an explode
    (an unnest would shuffle 64× the rows);
  * an empty cluster keeps its previous centroid (LEFT JOIN carry).

100 TB shape: the centroid table is K=8 rows — it rides every
assignment as a bounded broadcast (the corpus is never the build
side), each round costs one scan + one 8×65-column aggregate, and
the output is K rows. NULL vec_ids are excluded up front (the
engines' NULLS FIRST/LAST defaults differ and a NULL id cannot seed
a centroid).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from psx_data_pipeline_spark.operators.similarity import (
    indexable_embedding,
    indexable_embedding_sql,
)
from psx_data_pipeline_spark.plans.registry import query
from psx_data_pipeline_spark.session import memo
from psx_data_pipeline_spark.sources.fixtures import load_table

_DIM = 64
_K = 8
_ITERS = 3


def _dist_sql(q: str, c: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {_DIM}),"
        f" i -> ({q}[i] - {c}[i]) * ({q}[i] - {c}[i])))"
    )


def _iter_sql(i: int, prev: str) -> str:
    """One assign/update round as CTEs a{i}/s{i}/c{i}."""
    sums = ", ".join(f"SUM(q[{d}]) AS s{d}" for d in range(1, _DIM + 1))
    mean_list = ", ".join(f"s.s{d} // s.n" for d in range(1, _DIM + 1))
    return f"""
a{i} AS (
  SELECT rid, q,
         min({_dist_sql('q', 'c')} * {_K} + (cid - 1)) AS pk
  FROM v CROSS JOIN {prev} GROUP BY rid, q
),
s{i} AS (
  SELECT CAST(pk % {_K} + 1 AS INT) AS cid,
         CAST(count(*) AS BIGINT) AS n, {sums}
  FROM a{i} GROUP BY 1
),
c{i} AS (
  SELECT p.cid,
         CASE WHEN s.n IS NULL THEN p.c ELSE [{mean_list}] END AS c
  FROM {prev} p LEFT JOIN s{i} s USING (cid)
)"""


KMEANS_TOPICS_ORACLE = (
    f"""
WITH v AS (
  SELECT row_number() OVER () AS rid, vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings
  WHERE vec_id IS NOT NULL AND {indexable_embedding_sql('embedding', _DIM)}
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id, q) AS INT) AS cid, q AS c
  FROM (SELECT vec_id, q FROM v ORDER BY vec_id, q LIMIT {_K})
),"""
    + ",".join(_iter_sql(i, f"c{i - 1}") for i in range(1, _ITERS + 1))
    + f""",
fin AS (
  SELECT rid, min({_dist_sql('q', 'c')} * {_K} + (cid - 1)) AS pk
  FROM v CROSS JOIN c{_ITERS} GROUP BY rid
),
stats AS (
  SELECT CAST(pk % {_K} + 1 AS INT) AS cid,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(pk // {_K}) AS BIGINT) AS wss_q
  FROM fin GROUP BY 1
)
SELECT c.cid AS cluster_id,
       coalesce(st.n_members, 0) AS n_members,
       coalesce(st.wss_q, 0) AS wss_q,
       CAST(list_sum(list_transform(c.c, x -> abs(x))) AS BIGINT)
         AS centroid_l1
FROM c{_ITERS} c LEFT JOIN stats st ON c.cid = st.cid
"""
)


# The quantized training input, one per (application, sf_dir). The
# canonical Spark iterative-algorithm pattern (MLlib's KMeans does
# the same): persist the feature table once, scan the materialized
# partitions every round instead of re-reading parquet and
# re-quantizing 4× (3 unrolled rounds + final assignment) — and,
# because each round's centroids embed the prior rounds' full-corpus
# aggregates in their lineage, ~8× without it. MEMORY_AND_DISK so a
# 100 TB corpus spills instead of OOMing; a session memo, released
# by plans.clear_session_memos.
def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(("quantized", spark.sparkContext.applicationId, sf_dir),
                lambda: _build_quantized(spark, sf_dir))


def _build_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    emb = load_table(spark, "embeddings", sf_dir).where(
        F.col("vec_id").isNotNull()
        & indexable_embedding("embedding", _DIM)
    )
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(1000.0)).cast("long"),
    )
    # rid: per-physical-row grouping surrogate (never output), frozen
    # into the persisted table. The assignment stage used to group by
    # (vec_id, q), which silently COLLAPSED payload twins — identical
    # (vec_id, embedding) rows differing only in label — into one
    # member while the oracle counted both (round-12 payload-twin
    # probe find). monotonically_increasing_id is a partition-local
    # counter: no shuffle, unique per evaluation, and the only
    # property consumed is uniqueness (retrieval-family precedent,
    # plans/retrieval.py).
    qdf = emb.select(
        F.monotonically_increasing_id().alias("rid"),
        "vec_id", q.alias("q"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    qdf.count()
    return qdf


def _dist(q: Column, c: Column) -> Column:
    return F.aggregate(
        F.zip_with(q, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _cents_lit(cents: list[tuple[int, list[int]]]) -> Column:
    """The K fitted centroids as ONE literal array<struct<cid, c>>
    column: 8 × 64 exact int64 literals riding the plan itself, so an
    assignment pass is a pure map expression — no crossJoin, no
    broadcast build, no per-round join machinery (round 13; the
    round-12 form attached the same array through a single-row
    broadcast cross join, which cost one broadcast-build query-stage
    job per call site).

    Built as ONE SQL literal string parsed by a single F.expr call:
    the obvious `F.array(F.struct(F.lit(...)))` composition makes
    ~520 py4j round-trips PER CALL SITE — measured 1.17 s of pure
    driver-side Column construction, which re-created the very
    latency this rewrite removes. Values are exact int64s printed in
    full; the parser folds the construction to one Literal."""
    structs = ", ".join(
        "named_struct('cid', CAST({} AS INT), 'c', array({}))".format(
            int(cid), ", ".join(f"{int(v)}L" for v in c)
        )
        for cid, c in cents
    )
    return F.expr(f"array({structs})")


def _packed_assign(qdf: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """(rid, vec_id, q, pk): pk = min over centroids of
    dist·K + (cid-1), one row per PHYSICAL input row (rid carries the
    uniqueness; vec_id/q ride along functionally — grouping by
    (vec_id, q) alone merged payload twins, round-12 probe find).

    Map-expression-only (round-13, guide §2.3/2.4 — continuing the
    round-12 shuffle removal): the K centroids arrive as a LITERAL
    array of (cid, c) structs (_cents_lit) and the min is an
    array_min over a per-row transform. Result is bit-identical to
    the round-12 broadcast-row form and the crossJoin+groupBy form
    before it: the same K integer pk candidates per row, min is
    order-independent, and distinct cids make the min unique (pk
    embeds cid in the low bits). The transform/zip_with lambdas run
    interpreted exactly as before — only the centroid TRANSPORT
    changed, not the per-row arithmetic.

    An empty centroid list (empty corpus) yields pk = NULL for every
    row — the same result the empty-array transform produced — kept
    as an explicit literal because array()'s element type cannot host
    the struct lambda."""
    if not cents:
        pk = F.lit(None).cast("long")
    else:
        pk = F.array_min(
            F.transform(
                _cents_lit(cents),
                lambda ct: _dist(F.col("q"), ct["c"]) * _K + (ct["cid"] - 1),
            )
        )
    return qdf.select("rid", "vec_id", "q", pk.alias("pk"))


def _cents_df(spark: SparkSession, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """The fitted centroids as a K-row local relation (LocalTableScan
    — no scan, no job) for the consumers that JOIN against the
    catalogue (kmeans_topics' final output)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("cid", T.IntegerType(), False),
        T.StructField("c", T.ArrayType(T.LongType(), False), False),
    ])
    return spark.createDataFrame(
        [(int(cid), [int(v) for v in c]) for cid, c in cents], schema
    )


# Fitted centroids, one per (application, sf_dir): kmeans_topics and
# semdedup both consume the same 3-round fit; the memo holds the
# K final (cid, centroid) tuples as plain Python ints — kilobytes,
# no Spark-side storage. Cleared by plans.clear_session_memos.
def fit_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[int]]]:
    """The K (cid, centroid) pairs after the 3 unrolled rounds.

    Round 13 (guide §1.2/§2.4): each round is now ONE action — a
    bounded scalar probe (`.first()` on a single collect_list row,
    the documented pattern of operators/diff's min-length probe and
    the CC convergence scalar; K·_DIM ≈ 512 int64s cross the driver,
    never corpus data) — and the next round's assignment inlines the
    collected centroids as literals (_cents_lit). The round-12 chain
    ran, PER ROUND, an eager K-row localCheckpoint job plus a
    broadcast-build query-stage job inside the next assignment;
    the census read 24 jobs / 33 stages for 27 tasks on
    kmeans_topics — pure scheduler/AQE latency at any corpus size,
    and at 100 TB three fewer broadcast barriers per fit. MLlib's
    KMeans collects its K centroids to the driver each iteration for
    exactly this reason.

    Every quantity stays engine-computed and integer-exact: the
    per-dimension truncating mean is `s div n` evaluated BY SPARK in
    the same aggregate (only the finished int64s are collected), the
    empty-cluster carry keeps the previous centroid, and the seed is
    the K smallest (vec_id, q) rows with the total order re-imposed
    in Python (collect_list order is nondeterministic; q arrays are
    64 non-NULL int64s by the indexable_embedding gate, so Python
    list comparison == Spark's equal-length array ordering)."""
    return memo(("centroids", spark.sparkContext.applicationId, sf_dir),
                lambda: _fit(spark, sf_dir))


def _fit(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[int]]]:
    qdf = _quantized(spark, sf_dir)
    # seed ordering is total over (vec_id, q): under a duplicate-id
    # twin inside the seed window, vec_id alone ties and the seed
    # pick is engine-arbitrary (round-11 hostile-id probe class)
    seed = (
        qdf.orderBy("vec_id", "q").limit(_K)
        .agg(F.collect_list(F.struct("vec_id", "q")).alias("s"))
        .first()["s"]
    )
    rows = sorted(seed, key=lambda r: (r["vec_id"], list(r["q"])))
    cents = [(i + 1, [int(x) for x in r["q"]]) for i, r in enumerate(rows)]
    # The whole per-round mean rides ONE expression string: 64
    # `sum(q[d]) div count(1)` elements (Catalyst dedups the repeated
    # count aggregate; div is the same truncating integer mean the
    # oracle's `s{d} // n` computes on finished BIGINT sums). Built
    # per column the agg cost ~0.6 s of py4j Column construction PER
    # ROUND (the _cents_lit lesson, same fix).
    mean = F.expr(
        "array("
        + ", ".join(f"(sum(q[{d}]) div count(1))" for d in range(_DIM))
        + ") AS c"
    )
    for _ in range(_ITERS):
        if not cents:  # empty corpus: nothing to fit
            break
        updated = (
            _packed_assign(qdf, cents)
            .select(F.expr(f"CAST(pk % {_K} + 1 AS INT) AS cid"), "q")
            .groupBy("cid")
            .agg(mean)
            .agg(F.collect_list(F.struct("cid", "c")).alias("cs"))
            .first()["cs"]
        )
        got = {int(r["cid"]): [int(x) for x in r["c"]] for r in updated}
        # an empty cluster keeps its previous centroid (the former
        # LEFT JOIN carry, now a dict fallback — same K rows)
        cents = [(cid, got.get(cid, c)) for cid, c in cents]
    return cents


@query("kmeans_topics", KMEANS_TOPICS_ORACLE)
def q_kmeans_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled integer k-means rounds over the indexable
    embeddings; output is the K-row cluster catalogue — size,
    within-cluster squared distance, centroid L1 (module
    docstring)."""
    qdf = _quantized(spark, sf_dir)
    cents = fit_centroids(spark, sf_dir)
    fin = (
        _packed_assign(qdf, cents)
        .select((F.col("pk") % _K + 1).cast("int").alias("cid"),
                F.expr(f"pk div {_K}").cast("long").alias("dist"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("dist").cast("long").alias("wss_q"),
        )
    )
    l1 = F.aggregate(
        F.transform(F.col("c"), lambda x: F.abs(x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        _cents_df(spark, cents).alias("c")
        .join(fin.alias("st"), "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            F.coalesce(F.col("st.n_members"), F.lit(0).cast("long")).alias(
                "n_members"
            ),
            F.coalesce(F.col("st.wss_q"), F.lit(0).cast("long")).alias("wss_q"),
            l1.cast("long").alias("centroid_l1"),
        )
    )


# --- SemDeDup: cluster-scoped semantic dedup ---------------------------------

# cosine threshold in milli units: a member counts as a semantic
# duplicate of its cluster medoid when cos(q, rq) >= T/1000.
# Production SemDeDup runs T ≈ 950; the fixture's embeddings are
# near-random (measured max member→medoid cosine 0.493 at sf0.01),
# so the committed audit runs T = 300 — low enough that BOTH branches
# of the flag execute under the oracle hash-compare (a threshold no
# row can reach makes the dedup leg untestable — round-7 review
# found exactly that: a missing 10⁶ scale factor survived because
# n_dups was identically zero either way).
_SEM_T_MILLI = 300
_SEM_T_SQ = _SEM_T_MILLI * _SEM_T_MILLI  # 90000; test works on cos²·10⁶

_IDOT = (
    "list_sum(list_transform(generate_series(1, " + str(_DIM) + "),"
    " i -> {0}[i] * {1}[i]))"
)

SEMDEDUP_ORACLE = (
    f"""
WITH v AS (
  SELECT row_number() OVER () AS rid, vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings
  WHERE vec_id IS NOT NULL AND {indexable_embedding_sql('embedding', _DIM)}
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id, q) AS INT) AS cid, q AS c
  FROM (SELECT vec_id, q FROM v ORDER BY vec_id, q LIMIT {_K})
),"""
    + ",".join(_iter_sql(i, f"c{i - 1}") for i in range(1, _ITERS + 1))
    + f""",
fin2 AS (
  SELECT rid, vec_id, q, min({_dist_sql('q', 'c')} * {_K} + (cid - 1)) AS pk
  FROM v CROSS JOIN c{_ITERS} GROUP BY rid, vec_id, q
),
asg AS (
  SELECT vec_id, q, CAST(pk % {_K} + 1 AS INT) AS cid,
         pk // {_K} AS dist
  FROM fin2
),
rep AS (
  SELECT cid, vec_id AS rep_id, q AS rq FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cid ORDER BY dist, vec_id, q) AS rn
    FROM asg
  ) WHERE rn = 1
),
scored AS (
  SELECT a.cid, a.vec_id, r.rep_id,
         {_IDOT.format('a.q', 'r.rq')} AS dotqr,
         {_IDOT.format('a.q', 'a.q')} AS nq,
         {_IDOT.format('r.rq', 'r.rq')} AS nr
  FROM asg a JOIN rep r USING (cid)
)
SELECT cid AS cluster_id, min(rep_id) AS rep_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN vec_id <> rep_id AND dotqr > 0
                  AND 1000000 * (CAST(dotqr AS HUGEINT) * dotqr)
                      >= {_SEM_T_SQ} * (CAST(nq AS HUGEINT) * nr)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
FROM scored GROUP BY cid
"""
)


def _idot(a: Column, b: Column) -> Column:
    """Exact integer dot of two milli-quantized vectors (|q| ≤ 1e5,
    so the 64-term sum ≤ 6.4e11 — far inside int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@query("semdedup", SEMDEDUP_ORACLE)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup, the cluster-scoped semantic dedup (Abbas et al.'s
    recipe re-expressed linear): cluster the embedding space (the
    shared 3-round integer k-means fit), take each cluster's MEDOID
    (min (dist, vec_id) — map-side-combinable struct-MIN, no
    per-cluster window/sort), and flag members whose cosine to the
    medoid clears _SEM_T_MILLI/1000 (0.30 here — calibrated to the
    fixture's measured cosine range so BOTH flag branches execute in
    tests; a production corpus with real near-duplicates would run
    the paper's 0.95) as semantic duplicates. Each member is scored
    against exactly ONE representative, so the comparison volume is
    |corpus| — never the within-cluster pairwise square — and the
    medoid table rides as a K-row broadcast.

    The cosine test is integer-exact on both engines: cos ≥ T ⟺
    dot > 0 ∧ dot² ≥ T²·nq·nr, evaluated in DECIMAL(38,0) /
    HUGEINT because dot² reaches ~4e23 (past int64, inside both
    wide-integer types). Output: per cluster, the medoid id, member
    count, and duplicates flagged against it."""
    qdf = _quantized(spark, sf_dir)
    cents = fit_centroids(spark, sf_dir)
    asg = (
        _packed_assign(qdf, cents)
        .select(
            "vec_id", "q",
            (F.col("pk") % _K + 1).cast("int").alias("cid"),
            F.expr(f"pk div {_K}").alias("dist"),
        )
    )
    # single-stage total pick: the struct-MIN carries q itself, so a
    # duplicated vec_id (at-least-once replay) cannot fan the rep out
    # to two rows through a join-back — the tie falls through to the
    # lexicographic array compare, matching the oracle's ORDER BY
    # dist, vec_id, q exactly
    rep = asg.groupBy("cid").agg(
        F.min(F.struct("dist", "vec_id", "q")).alias("mr")
    ).select(
        F.col("cid").alias("rcid"),
        F.col("mr.vec_id").alias("rep_id"),
        F.col("mr.q").alias("rq"),
    )
    scored = (
        asg.alias("a")
        .join(F.broadcast(rep).alias("r"), F.col("a.cid") == F.col("r.rcid"))
        .select(
            F.col("a.cid").alias("cid"), F.col("a.vec_id").alias("vec_id"),
            F.col("r.rep_id").alias("rep_id"),
            _idot(F.col("a.q"), F.col("r.rq")).alias("dotqr"),
            _idot(F.col("a.q"), F.col("a.q")).alias("nq"),
            _idot(F.col("r.rq"), F.col("r.rq")).alias("nr"),
        )
    )
    # cos ≥ T/1000  ⟺  dot > 0 ∧ 10⁶·dot² ≥ T²·nq·nr  (the 10⁶ is
    # the milli-scale square — dropping it makes the test
    # unsatisfiable by Cauchy-Schwarz, caught in round-7 review)
    is_dup = F.expr(
        "vec_id <> rep_id AND dotqr > 0"
        " AND 1000000 * (CAST(dotqr AS DECIMAL(38,0))"
        " * CAST(dotqr AS DECIMAL(38,0)))"
        f" >= {_SEM_T_SQ} *"
        " (CAST(nq AS DECIMAL(38,0)) * CAST(nr AS DECIMAL(38,0)))"
    )
    return scored.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.min("rep_id").alias("rep_id"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.when(is_dup, 1).otherwise(0)).cast("long").alias("n_dups"),
    )
