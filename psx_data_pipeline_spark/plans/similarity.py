"""Similarity-search queries over the ``embeddings`` fixture table
(vec_id BIGINT, embedding FLOAT[64], label INT).

Brute-force cosine top-k is the correctness baseline (broadcast query
set × corpus); hyperplane-LSH bucketed neighbors is the scale path
(equi-join on signature buckets instead of n·m comparisons). Both
accumulate dot products in exact decimal so DuckDB reproduces the
same double bits regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psx_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    indexable_embedding,
    indexable_embedding_sql,
    ivf_topk,
    dot_sql,
    hyperplane_signature_sql,
    lsh_bucketed_neighbors,
    qdot,
    qdot_sql,
    qdot_unrolled,
    qdotd_sql,
    valid_embedding,
    valid_embedding_sql,
)
from psx_data_pipeline_spark.plans.registry import query
from psx_data_pipeline_spark.session import hold, memo
from psx_data_pipeline_spark.sources.fixtures import load_table

_DIM = 64

# Every similarity query runs over the INDEXABLE subset of the store:
# well-formed (64 dims, finite, bounded) and nonzero (cosine needs
# norm > 0). A real store contains NULL / truncated / NaN / zero
# vectors from failed encoders; un-gated, one such row crashes the
# ANSI plan or divides by zero (hostile-probe finding). The gate is a
# scan-side predicate in both engines; embedding_stats is the QA view
# that reports the invalid rows instead of dropping them.
_VEMB_CTE = (
    "vembeddings AS (SELECT * FROM embeddings WHERE "
    + indexable_embedding_sql("embedding", _DIM)
    + ")"
)


def _indexable(emb: DataFrame) -> DataFrame:
    return emb.where(indexable_embedding("embedding", _DIM))
# query set = vec_id % MOD == 0, with MOD scaled so the QUERY COUNT
# stays ~fixed (~20) as the corpus grows — the brute-force baseline
# is |queries| × |corpus|; a corpus-proportional query set makes it
# quadratic and breaks the documented bounded-broadcast design. At
# the driver's scale factors ceil(n/20) <= 100, so results there are
# unchanged.
_QUERY_MOD = 100
_QUERY_TARGET = 20
_QUERY_MOD_SQL = (
    f"GREATEST({_QUERY_MOD}, CAST(ceil("
    f"CAST((SELECT count(*) FROM vembeddings) AS DOUBLE) / {_QUERY_TARGET}"
    f") AS BIGINT))"
)
_K = 5

def _scaled_mod_subset(
    emb: DataFrame, base_mod: int, target: int, residue: int
) -> DataFrame:
    """Rows with vec_id % GREATEST(base_mod, ceil(n/target)) ==
    residue — the corpus-size-scaled deterministic subset used for
    query sets and centroids. One broadcast scalar row; the filter
    stays a scan-side expression."""
    nrow = emb.agg(F.count(F.lit(1)).alias("__n"))
    mod = F.greatest(
        F.lit(base_mod).cast("long"),
        F.ceil(F.col("__n") / F.lit(float(target))).cast("long"),
    )
    return emb.crossJoin(F.broadcast(nrow)).where(
        F.col("vec_id") % mod == residue
    ).drop("__n")


_COS = (
    f"{dot_sql('q.qe', 'c.ce')}"
    f" / (sqrt({dot_sql('q.qe', 'q.qe')}) * sqrt({dot_sql('c.ce', 'c.ce')}))"
)

COSINE_TOPK_ORACLE = f"""
WITH {_VEMB_CTE},
q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM vembeddings
  WHERE vec_id % {_QUERY_MOD_SQL} = 0
),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM vembeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id, {_COS} AS cosine
  FROM q CROSS JOIN c
  WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {_K}
"""


# The materialized top-k result tables, one per (application, sf_dir,
# index). Both index queries have TWO registered consumers (their own
# query name and ann_recall, which grades one against the other);
# without this memo ann_recall re-executes both full index plans from
# scratch in the same session. The cached result is top-k bounded —
# ≤ |queries|·k rows, kilobytes at any corpus size — so holding it
# for the session lifetime is free and the recall join becomes a
# join of two tiny in-memory tables (same rationale as the sync-change
# memo in plans/ticker.py).
def _memo_topk(spark: SparkSession, sf_dir: str, name: str, build):
    def materialize() -> DataFrame:
        # eager cache + count (NOT localCheckpoint — see the
        # measurement note at plans/ticker.py): materialize once,
        # every later consumer reads the in-memory rows
        df = build().cache()
        df.count()
        return df

    return memo(("topk", spark.sparkContext.applicationId, sf_dir, name),
                materialize)


@query("cosine_topk", COSINE_TOPK_ORACLE)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact ANN baseline: broadcast the (small) query set
    against the corpus; per-query top-k via row_number with an id
    tie-break so the ranking is unique. Result memoized per
    (application, sf_dir): ann_recall grades ivf_topk against this
    ground truth in the same session and must not pay the scan twice.
    """
    def build() -> DataFrame:
        emb = _indexable(load_table(spark, "embeddings", sf_dir))
        queries = _scaled_mod_subset(emb, _QUERY_MOD, _QUERY_TARGET, 0)
        return cosine_topk(emb, queries, "embedding", "vec_id", k=_K)

    return _memo_topk(spark, sf_dir, "cosine_topk", build)


_BITS = 8
_COS_T = 0.1

_PAIR_COS = (
    f"{dot_sql('a.e', 'b.e')}"
    f" / (sqrt({dot_sql('a.e', 'a.e')}) * sqrt({dot_sql('b.e', 'b.e')}))"
)

# signatures are keyed on a synthetic PER-ROW id, not vec_id: the
# engine signs each physical row scan-side, and a vec_id-keyed sig
# both MERGED duplicate-id twins' components into one garbage
# signature and cross-paired each twin's signature with the other's
# embedding through the join-back (round-11 hostile-id probe)
_LSH_SIG_SQL = hyperplane_signature_sql("embedding", "rid", "vrows", _BITS, _DIM)

LSH_NEIGHBORS_ORACLE = f"""
WITH {_VEMB_CTE},
vrows AS (SELECT *, row_number() OVER () AS rid FROM vembeddings),
sig AS ({_LSH_SIG_SQL}),
v AS (
  SELECT e.vec_id AS id, s.sig, e.embedding AS e
  FROM sig s JOIN vrows e ON e.rid = s.sig_id
),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b, {_PAIR_COS} AS cosine
  FROM v a JOIN v b ON a.sig = b.sig
  WHERE a.id < b.id
)
SELECT id_a, id_b, cosine FROM cand WHERE cosine >= {_COS_T}
"""


@query("lsh_bucketed_neighbors", LSH_NEIGHBORS_ORACLE)
def q_lsh_bucketed_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-neighbor pairs: {_BITS}-bit sign signatures
    from inlined integer plane constants; candidates come from the
    signature equi-join (bucket-local work at scale), verified by
    exact cosine."""
    emb = _indexable(load_table(spark, "embeddings", sf_dir))
    return lsh_bucketed_neighbors(
        emb, "embedding", "vec_id", dim=_DIM, bits=_BITS, threshold=_COS_T
    )


# --- IVF approximate top-k ---------------------------------------------------

# centroids = vec_id % MOD == 1, with MOD scaled so the CELL COUNT
# stays ~fixed (~{target}) as the corpus grows: a constant mod makes
# centroid count grow linearly with the corpus, which turns the
# assignment step (corpus × centroids) QUADRATIC — measured 1.7 s →
# 88 s on a 10× corpus before this scaling. At the driver's scale
# factors ceil(n/50) < 40, so results there are unchanged.
_CENT_MOD = 40
_CENT_TARGET = 50  # cells held ~constant; real IVF retrains offline
_CENT_MOD_SQL = (
    f"GREATEST({_CENT_MOD}, CAST(ceil("
    f"CAST((SELECT count(*) FROM vembeddings) AS DOUBLE) / {_CENT_TARGET}"
    f") AS BIGINT))"
)
_NPROBE = 2

_ASSIGN_COS = (
    f"{dot_sql('v.e', 'ct.ce')}"
    f" / (sqrt({dot_sql('v.e', 'v.e')}) * sqrt({dot_sql('ct.ce', 'ct.ce')}))"
)
_IVF_COS = (
    f"{dot_sql('p.qe', 'cl.ne')}"
    f" / (sqrt({dot_sql('p.qe', 'p.qe')}) * sqrt({dot_sql('cl.ne', 'cl.ne')}))"
)

IVF_TOPK_ORACLE = f"""
WITH {_VEMB_CTE},
cent AS (
  SELECT vec_id AS cid, embedding AS ce FROM vembeddings
  WHERE vec_id % {_CENT_MOD_SQL} = 1
),
cells AS (
  SELECT id AS neighbor_id, e AS ne, cid FROM (
    SELECT v.vec_id AS id, v.e, ct.cid, row_number() OVER (
      PARTITION BY v.vec_id ORDER BY {_ASSIGN_COS} DESC, ct.cid) AS rk
    FROM (SELECT vec_id, embedding AS e FROM vembeddings) v
    CROSS JOIN cent ct
  ) WHERE rk = 1
),
probes AS (
  SELECT id AS query_id, e AS qe, cid FROM (
    SELECT v.vec_id AS id, v.e, ct.cid, row_number() OVER (
      PARTITION BY v.vec_id ORDER BY {_ASSIGN_COS} DESC, ct.cid) AS rk
    FROM (SELECT vec_id, embedding AS e FROM vembeddings
          WHERE vec_id % {_QUERY_MOD_SQL} = 0) v
    CROSS JOIN cent ct
  ) WHERE rk <= {_NPROBE}
),
scored AS (
  SELECT p.query_id, cl.neighbor_id, {_IVF_COS} AS cosine
  FROM probes p JOIN cells cl USING (cid)
  WHERE p.query_id <> cl.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {_K}
"""


@query("ivf_topk", IVF_TOPK_ORACLE)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate ANN: corpus bucketed into centroid cells
    (inverted lists), queries probe their {_NPROBE} nearest cells —
    comparisons are cell-local, shuffled on cid, instead of
    query × corpus. The data-adaptive twin of the LSH path. Result
    memoized per (application, sf_dir) — shared with ann_recall."""
    def build() -> DataFrame:
        emb = _indexable(load_table(spark, "embeddings", sf_dir))
        cents = _scaled_mod_subset(emb, _CENT_MOD, _CENT_TARGET, 1).select(
            F.col("vec_id").alias("cid"), "embedding"
        )
        queries = _scaled_mod_subset(emb, _QUERY_MOD, _QUERY_TARGET, 0)
        return ivf_topk(
            emb, queries, cents, "embedding", "vec_id",
            cid_col="cid", k=_K, nprobe=_NPROBE,
        )

    return _memo_topk(spark, sf_dir, "ivf_topk", build)


# --- embedding preprocessing stats ------------------------------------------

_VALID_SQL = valid_embedding_sql("embedding", _DIM)

# DuckDB decorrelates the CASE's inner subqueries and evaluates them
# on EVERY row, so the guarded expressions must also be total: clamp
# each component to a finite bounded value (NaN→0, ±Inf→±100) inside
# the subquery. Invalid rows discard the clamped value through the
# outer CASE, so only crash-freedom matters, not the clamped result.
_SAFE = (
    "(CASE WHEN isnan(CAST({0} AS DOUBLE)) THEN 0.0"
    " ELSE least(greatest(CAST({0} AS DOUBLE), -100.0), 100.0) END)"
)
_SA = _SAFE.format("x.a")

EMBED_STATS_ORACLE = f"""
SELECT vec_id,
  CAST(len(embedding) AS INT) AS n_dims,
  CASE WHEN {_VALID_SQL} THEN
    sqrt(CAST((SELECT SUM(CAST(floor({_SA} * {_SA} * 1e12) AS BIGINT))
          FROM (SELECT UNNEST(embedding) AS a) x) AS DOUBLE) / 1e12)
  END AS l2norm,
  CASE WHEN {_VALID_SQL} THEN
    CAST((SELECT SUM(CAST(floor({_SA} * 127) AS BIGINT))
          FROM (SELECT UNNEST(embedding) AS a) x) AS BIGINT) END AS q8_sum,
  CASE WHEN {_VALID_SQL} THEN
    CAST((SELECT MAX(CAST(floor({_SA} * 127) AS BIGINT))
          FROM (SELECT UNNEST(embedding) AS a) x) AS BIGINT) END AS q8_max,
  {_VALID_SQL} AS is_valid
FROM embeddings
"""


@query("embedding_stats", EMBED_STATS_ORACLE)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-preprocessing pass: dimension check, exact L2 norm
    (quantized-integer accumulation), int8-quantization summary
    stats, and the is_valid flag — the sanity/QA scan an embedding
    corpus gets before indexing. This is the TOTAL view: NULL /
    wrong-dim / non-finite vectors are reported (NULL stats,
    is_valid=false), not dropped — the gated similarity queries all
    run over the is_valid subset. Pure array expressions on the
    scan; no shuffle."""
    emb = load_table(spark, "embeddings", sf_dir)
    valid = valid_embedding("embedding", _DIM)
    vecd = F.transform("embedding", lambda x: x.cast("double"))
    q8 = F.transform(vecd, lambda x: F.floor(x * 127).cast("long"))
    dot = F.aggregate(
        F.zip_with(vecd, vecd, lambda a, b: F.floor(a * b * F.lit(1e12))),
        F.lit(0).cast("long"), lambda acc, p: acc + p,
    ).cast("double") / F.lit(1e12)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.when(valid, F.sqrt(dot)).alias("l2norm"),
        F.when(
            valid,
            F.aggregate(q8, F.lit(0).cast("long"), lambda a, x: a + x),
        ).alias("q8_sum"),
        F.when(valid, F.array_max(q8)).alias("q8_max"),
        valid.alias("is_valid"),
    )


# --- embedding-cosine near-dup dedup (end to end) ----------------------------

EMBEDDING_DEDUP_ORACLE = f"""
WITH RECURSIVE pairs AS ({LSH_NEIGHBORS_ORACLE}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, root) AS (
  SELECT vec_id, vec_id FROM embeddings
  WHERE {indexable_embedding_sql('embedding', _DIM)}
  UNION
  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id AS vec_id, MIN(root) AS comp FROM reach GROUP BY id)
SELECT vec_id, comp, (vec_id = comp) AS is_survivor FROM comp
"""


@query("embedding_dedup", EMBEDDING_DEDUP_ORACLE)
def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup end to end: hyperplane-LSH
    bucketed pairs (cosine >= {_COS_T}) -> connected components ->
    keep the min-id representative per cluster. The output is a total
    vec_id -> cluster map with the survivor flag — filter
    is_survivor to materialize the deduplicated corpus. Same
    bucketed-never-all-pairs shape as the text dedup family.

    Clustering strategy: near-dup similarity graphs are SHALLOW
    (diameter 2-3 — a dup cluster is near-clique), so min-label
    propagation's cheap rounds beat large-star/small-star's heavier
    rounds (measured 2.9 s vs 8.7 s at sf0.1), and the rounds needed
    equal the graph diameter."""
    from psx_data_pipeline_spark.operators.dedup import connected_components

    emb = _indexable(load_table(spark, "embeddings", sf_dir))
    pairs = lsh_bucketed_neighbors(
        emb, "embedding", "vec_id", dim=_DIM, bits=_BITS, threshold=_COS_T
    )
    # node set is DISTINCT ids: the output is a per-id cluster map, so
    # a duplicate-id twin contributes edges from both its rows but
    # one node (round-11 hostile-id probe: dup node rows doubled the
    # output row). The node list is CC's own iterated frame — one
    # distinct on it is noise next to the propagation shuffles.
    comp = connected_components(
        pairs, emb.select("vec_id").distinct(), id_col="vec_id")
    return comp.select(
        F.col("id").alias("vec_id"),
        "comp",
        (F.col("id") == F.col("comp")).alias("is_survivor"),
    )


# --- int8 scalar quantization ------------------------------------------------

# the final rollup groups on a synthetic PER-ROW id (each stored
# vector quantizes independently, matching the engine's in-row
# F.aggregate folds): grouping on vec_id alone merged duplicate-id
# twins' checksums into one garbage row (round-11 hostile-id probe)
EMB_QUANTIZE_ORACLE = f"""
WITH wf AS (SELECT *, row_number() OVER () AS rid FROM embeddings
            WHERE {_VALID_SQL}),
x AS (SELECT rid, vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                  generate_subscripts(embedding, 1) AS dim
           FROM wf),
r AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM x GROUP BY dim),
q AS (SELECT x.rid, x.vec_id, x.dim, x.v, r.mn, r.mx,
        CASE WHEN r.mx - r.mn > 0
             THEN CAST(least(255, floor(((x.v - r.mn) * 255)
                                        / (r.mx - r.mn))) AS BIGINT)
             ELSE 0 END AS qi
      FROM x JOIN r USING (dim)),
e AS (SELECT rid, vec_id, dim, qi,
        CAST(floor(abs(v - (mn + ((qi + 0.5) * (mx - mn)) / 256))
                   * 1000000) AS BIGINT) AS err_micro
      FROM q)
SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
       CAST(sum(dim * qi) AS BIGINT) AS q_checksum,
       CAST(sum(err_micro) AS BIGINT) AS err_micro_sum
FROM e GROUP BY rid, vec_id
"""


@query("embedding_quantize", EMB_QUANTIZE_ORACLE)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding store — the 4×
    memory-compression step production ANN runs before sharding a
    100 TB vector corpus (per-dimension min/max ranges, 256 levels,
    mid-rise dequantization). Returns per vector the code checksum
    and the total reconstruction error in micro-units — both exact
    BIGINTs, so the oracle hash pins every code and every error bit.

    Plan shape: the ONLY aggregation is the per-dimension min/max —
    64 keys, map-side combinable — whose result rides back as ONE
    broadcast row of (mins, maxs) arrays; quantization itself is a
    narrow per-row transform (element_at into the broadcast arrays,
    O(1) per dimension), and per-vector sums are in-row F.aggregate
    folds. No shuffle ever carries per-dimension rows keyed by
    vector — the 64×-row explode exists only inside the tiny stats
    aggregate. Float determinism: floats are promoted to double
    BEFORE the min/max, and every downstream expression uses the
    identical operand order in both engines, so doubles stay
    bit-identical. Runs over the well-formed subset (valid_embedding
    — zero vectors are fine here, the span>0 CASE handles them)."""
    emb = load_table(spark, "embeddings", sf_dir).where(
        valid_embedding("embedding", _DIM)
    )
    x = emb.select(F.posexplode("embedding").alias("d0", "v")).select(
        (F.col("d0") + 1).alias("dim"), F.col("v").cast("double").alias("v")
    )
    r = x.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    ranges = r.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mn"))),
            lambda s: s["mn"],
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mx"))),
            lambda s: s["mx"],
        ).alias("maxs"),
    )

    def term(v, i):
        vd = v.cast("double")
        idx = (i + 1).cast("int")
        mn = F.element_at(F.col("mins"), idx)
        mx = F.element_at(F.col("maxs"), idx)
        span = mx - mn
        q = (
            F.when(
                span > 0,
                F.least(
                    F.lit(255).cast("long"),
                    F.floor((vd - mn) * 255 / span),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )
        deq = mn + (q.cast("double") + 0.5) * span / 256
        err = F.floor(F.abs(vd - deq) * 1e6).cast("long")
        return F.struct(
            err.alias("err"), (idx.cast("long") * q).alias("wq")
        )

    terms = F.transform("embedding", term)
    zero = F.struct(
        F.lit(0).cast("long").alias("wq"),
        F.lit(0).cast("long").alias("err"),
    )
    # one fold, struct accumulator: the transform + fold run
    # interpreted (HOF), so folding once instead of twice halves the
    # per-element interpretation cost
    sums = F.aggregate(
        terms,
        zero,
        lambda acc, t: F.struct(
            (acc["wq"] + t["wq"]).alias("wq"),
            (acc["err"] + t["err"]).alias("err"),
        ),
    )
    return emb.crossJoin(F.broadcast(ranges)).select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        sums["wq"].alias("q_checksum"),
        sums["err"].alias("err_micro_sum"),
    )


# --- ANN index quality evaluation (recall@k vs brute force) -------------------

ANN_RECALL_ORACLE = f"""
WITH brute AS ({COSINE_TOPK_ORACLE}),
approx AS ({IVF_TOPK_ORACLE}),
hits AS (
  SELECT b.query_id,
         CAST(count(a.neighbor_id) AS BIGINT) AS n_hits
  FROM brute b
  LEFT JOIN approx a
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
  GROUP BY b.query_id
)
SELECT query_id, n_hits,
       CAST(n_hits * 1000 // {_K} AS BIGINT) AS recall_milli
FROM hits
"""


@query("ann_recall", ANN_RECALL_ORACLE)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_K} of the IVF index against the brute-force ground
    truth, per query — the acceptance metric every production ANN
    deployment runs before swapping an index in (and re-runs after
    retraining). recall_milli is integer permille (n_hits·1000 div
    k), exact in both engines.

    Plan shape: the two sides are the MEMOIZED cosine_topk / ivf_topk
    results (both top-k bounded: ≤ |queries|·k rows each, cached by
    _memo_topk), joined on (query_id, neighbor_id) — a join between
    two tiny in-memory tables, so when the index queries have already
    run this session (bench runs all three) the evaluation costs only
    the join, and when they haven't, each index plan executes exactly
    once. Grading is per query (min/avg over queries is a trivial
    rollup downstream); a LEFT join from the ground truth keeps
    recall defined even for queries the index returns nothing for."""
    brute = q_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = q_ivf_topk(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an"),
        F.lit(1).alias("hit"),
    )
    return (
        brute.join(
            approx,
            (F.col("query_id") == F.col("aq"))
            & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("hit").cast("long").alias("n_hits"))
        .select(
            "query_id", "n_hits",
            F.expr(f"n_hits * 1000 div {_K}").cast("long").alias(
                "recall_milli"
            ),
        )
    )


# --- triangle census on the similarity graph ---------------------------------

# Exact-duplicate vectors collapse to one representative (min id)
# BEFORE the graph is built — the ngram_jaccard_pairs collapse,
# vector-flavored: a duplicate group of size k would otherwise form
# k^2 edges and ~k^3 wedges (measured 82 s on a 30x-duplicated
# corpus; 8.3 s after the collapse — near-flat 10x->30x). The group key is the
# +0.0-canonicalized array (x + 0.0 turns -0.0 into +0.0, the
# engines' grouping semantics for signed zeros differ; NaN/Inf
# vectors are already outside the indexable gate).
_CANON_DUCK = "list_transform(embedding, x -> x + CAST(0.0 AS FLOAT))"

# Shared CTE prefix: the collapsed-representative LSH similarity
# graph (indexable gate → exact-dup collapse → hyperplane signature
# buckets → cosine-verified a<b edges). Both graph queries
# (neighbor_triangles, pagerank_sim) analyze exactly this edge list.
_SIM_GRAPH_CTES = f"""{_VEMB_CTE},
rembeddings AS (
  -- second collapse ON THE ID: a duplicate-id twin (two distinct
  -- vectors sharing one vec_id) would otherwise elect two reps with
  -- the SAME node label, and the vec_id-keyed signature/degree
  -- aggregations then merge them into garbage (round-11 hostile-id
  -- probe). One node per id, its vector picked by total list order.
  SELECT vec_id, min(embedding) AS embedding FROM (
    SELECT min(vec_id) AS vec_id, {_CANON_DUCK} AS embedding
    FROM vembeddings GROUP BY 2
  ) GROUP BY 1
),
sig AS ({hyperplane_signature_sql("embedding", "vec_id", "rembeddings", _BITS, _DIM)}),
v AS (
  SELECT s.sig_id AS id, s.sig, e.embedding AS e
  FROM sig s JOIN rembeddings e ON e.vec_id = s.sig_id
),
e AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM v a JOIN v b ON a.sig = b.sig
  WHERE a.id < b.id AND {_PAIR_COS} >= {_COS_T}
)"""

def _sim_graph_edges(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(representatives, verified a<b edge list) of the collapsed
    similarity graph — the Spark twin of _SIM_GRAPH_CTES."""
    emb = _indexable(load_table(spark, "embeddings", sf_dir))
    # two collapses — by vector (exact-dup election) then by ID: a
    # duplicate-id twin otherwise elects two reps with the same node
    # label, which the id-keyed degree/rank aggregations merge into
    # garbage (round-11 hostile-id probe; see _SIM_GRAPH_CTES). Both
    # run on the rep set, which is dup-bounded, not corpus-sized.
    reps = (
        emb.select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> x + CAST(0.0 AS FLOAT))"
            ).alias("embedding"),
        )
        .groupBy("embedding")
        .agg(F.min("vec_id").alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.min("embedding").alias("embedding"))
    )
    # ONE materialization of the verified edge list (near-dup bounded,
    # kilobytes-to-MB at any scale): both consumers reference it
    # repeatedly — neighbor_triangles 3× (e1/e2/e3 self-joins),
    # pagerank_sim ~2+{_PR_ITERS}× (dir/deg/adj) — and without it each
    # reference re-executes the whole signature + bucket-join + cosine
    # verify DAG per use (the round-12 stage census read 26 stages for
    # 12 tasks on the triangle query; guide §3.3: materialise an
    # intermediate to truncate a re-referenced plan). localCheckpoint
    # is per-call, so a bench re-run re-executes the full DAG — this
    # is plan truncation, not a cross-run memo; held until the next
    # clear, because the returned plans read it.
    e = hold(lsh_bucketed_neighbors(
        reps, "embedding", "vec_id", dim=_DIM, bits=_BITS, threshold=_COS_T
    ).select("id_a", "id_b").localCheckpoint(eager=True))
    return reps, e


NEIGHBOR_TRIANGLES_ORACLE = f"""
WITH {_SIM_GRAPH_CTES},
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM e e1
  JOIN e e2 ON e2.id_a = e1.id_b
  JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
)
SELECT v AS vec_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS v FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY v
"""


@query("neighbor_triangles", NEIGHBOR_TRIANGLES_ORACLE)
def q_neighbor_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-representative triangle census on the LSH similarity graph
    — the clustering-structure audit for an embedding space
    (triangles distinguish tight near-dup cliques from star-shaped
    hub noise; connected components alone cannot). Edges are the
    lsh_bucketed_neighbors pairs (a < b, cosine-verified) over
    DISTINCT vectors: exact duplicates collapse to their min-id
    representative first (see _CANON_DUCK note — k-dup groups
    otherwise cube the wedge count), so the census is invariant to
    corpus duplication.

    Scale shape: the standard a<b<c wedge-close — e1(a,b) ⋈ e2(b,c)
    on the shared vertex enumerates each wedge once (work Σ deg², the
    textbook bound), and the closing edge lookup e3(a,c) is an
    equi-join back onto the edge list. The distinct-vector graph's
    degree is bounded by the LSH bucket population (near-dup-bounded,
    never corpus-wide); the collapse is one map-side-combinable
    groupBy."""
    reps, e = _sim_graph_edges(spark, sf_dir)
    e1 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    e3 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    verts = (
        tri.select(F.col("a").alias("v"))
        .unionByName(tri.select(F.col("b").alias("v")))
        .unionByName(tri.select(F.col("c").alias("v")))
    )
    return verts.groupBy(F.col("v").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


# --- PageRank centrality on the similarity graph -----------------------------

# Power iteration with damping 0.85, run entirely in integer milli
# units so both engines floor identically: r0 = 1000 everywhere, and
# r_{t+1}(v) = 150 + (850 · Σ_{u→v} (r_t(u) div deg(u))) div 1000.
# A FIXED iteration count (unrolled in the oracle) keeps the query a
# pure dataflow — convergence-to-epsilon belongs to the CC-style
# driver loop, not an oracle-checked plan. Int64 posture: a node's
# in-contribution is ≤ 1000·|endpoints| (worst case: a star center),
# so 850·Σ stays inside int64 for < ~1e13 graph nodes.

_PR_ITERS = 3

_PR_CTE_CHAIN = ",\n".join(
    f"""c{t} AS (
  SELECT a.dst AS id, CAST(sum(r.r // a.deg) AS BIGINT) AS s
  FROM adj a JOIN r{t - 1} r ON r.id = a.src GROUP BY a.dst
),
r{t} AS (
  SELECT g.id, CAST(150 + (850 * COALESCE(c.s, 0)) // 1000 AS BIGINT) AS r
  FROM deg g LEFT JOIN c{t} c ON c.id = g.id
)"""
    for t in range(1, _PR_ITERS + 1)
)

PAGERANK_SIM_ORACLE = f"""
WITH {_SIM_GRAPH_CTES},
dir AS (
  SELECT id_a AS src, id_b AS dst FROM e
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM e
),
deg AS (
  SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM dir GROUP BY src
),
adj AS (SELECT d.src, d.dst, g.deg FROM dir d JOIN deg g ON g.id = d.src),
r0 AS (SELECT id, CAST(1000 AS BIGINT) AS r FROM deg),
{_PR_CTE_CHAIN}
SELECT id AS vec_id, r AS rank_milli FROM r{_PR_ITERS}
UNION ALL
-- NOT EXISTS, not NOT IN: a NULL-id rep is a legal isolated node
-- (it can never equi-join an edge), and NULL NOT IN (...) is NULL —
-- the row silently vanished on this side only (hostile-id probe)
SELECT vec_id, CAST(150 AS BIGINT) AS rank_milli FROM rembeddings r
WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.id = r.vec_id)
"""


@query("pagerank_sim", PAGERANK_SIM_ORACLE)
def q_pagerank_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_PR_ITERS}-step damped PageRank over the collapsed LSH
    similarity graph — the hub/authority census for an embedding
    store (which representatives anchor dense near-dup neighborhoods
    vs. sit on the periphery), in exact integer milli arithmetic.

    Scale shape: ranks live on EDGE ENDPOINTS only (the CC lesson —
    operators/dedup.py iterates the same way); isolated
    representatives never enter the loop and get their closed-form
    rank (150 = the damping floor, exact after one step from a
    uniform start) via one anti-join at the end. The verified edge
    list is localCheckpointed once, so the LSH bucket join runs
    exactly once and each unrolled step is one equi-join + one
    map-side-combinable groupBy on the near-dup-bounded edge table —
    never a corpus-wide shuffle, and the fixed step count keeps the
    lineage linear."""
    # every downstream reference (dir ×2 consumers, deg ×{_PR_ITERS}+1,
    # adj ×{_PR_ITERS}) re-derives from the edge checkpoint that
    # _sim_graph_edges materialises (same idiom as
    # connected_components' rounds) instead of re-running the LSH join
    reps, e = _sim_graph_edges(spark, sf_dir)
    dirs = e.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        e.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    deg = dirs.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    adj = dirs.join(deg, dirs["src"] == deg["id"]).select("src", "dst", "deg")
    r = deg.select("id", F.lit(1000).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        c = (
            adj.join(r, adj["src"] == r["id"])
            .groupBy("dst")
            .agg(F.sum(F.expr("r div deg")).cast("long").alias("s"))
        )
        r = (
            deg.select("id")
            .join(c, deg["id"] == c["dst"], "left")
            .select(
                "id",
                F.expr("150 + (850 * coalesce(s, 0)) div 1000")
                .cast("long")
                .alias("r"),
            )
        )
    iterated = r.select(
        F.col("id").alias("vec_id"), F.col("r").alias("rank_milli")
    )
    isolated = reps.join(
        deg, reps["vec_id"] == deg["id"], "left_anti"
    ).select("vec_id", F.lit(150).cast("long").alias("rank_milli"))
    return iterated.unionByName(isolated)


# --- product quantization: ADC compressed scan -------------------------------

# PQ splits each vector into M subvectors and replaces each with the
# id of its nearest codebook entry in that subspace — the compression
# layer a 100 TB vector store actually serves from (store M small
# codes, not D floats). Queries never decompress: an asymmetric-
# distance (ADC) scan computes one lookup table of query-subvector ×
# codeword dots, then scores every corpus vector as a sum of M table
# lookups. Codebooks here are a deterministic corpus subset (same
# offline-training stance as IVF's centroids, _CENT_MOD note); code
# assignment minimizes exact L2 in the subspace, dropping the
# per-vector |x|² constant: cost = |c|² − 2·x·c, in integer qdot
# units both engines floor identically, tie-broken by codeword id.
#
# Vectors are L2-NORMALIZED before encoding, so inner product ≡
# cosine and pq_recall grades against the cosine ground truth (the
# standard cosine-metric PQ recipe). The normalization itself is
# engine-exact: divide by sqrt(n2q/1e12) where n2q is the INTEGER
# quantized self-dot — sqrt and double division are the same IEEE
# ops in both engines, so the normalized doubles match bit-for-bit.
# n2q ≥ 1 gates out vectors whose norm² quantizes to zero (all
# components < ~1e-6): not PQ-indexable, same stance as the cosine
# gate on zero vectors. Precision discipline (test_pq.py pins it):
# float32 inputs multiply in SINGLE precision in Spark, normalized
# doubles in DOUBLE — qdot_sql vs qdotd_sql respectively; mixing
# the two diverges at the floor boundary.

_PQ_M = 16                      # subspaces (4-dim: finer quantization —
                                # M=4 scored 0.04 recall on this corpus,
                                # M=16 scores 0.52 vs IVF's 0.28)
_PQ_SUB = _DIM // _PQ_M         # dims per subspace
_PQ_CB_MOD = 10                 # codebook subset: vec_id % MOD == 2
_PQ_CB_TARGET = 64              # ~codewords per subspace, corpus-invariant
_PQ_CB_MOD_SQL = (
    f"GREATEST({_PQ_CB_MOD}, CAST(ceil("
    f"CAST((SELECT count(*) FROM vembeddings) AS DOUBLE) / {_PQ_CB_TARGET}"
    f") AS BIGINT))"
)

PQ_ADC_TOPK_ORACLE = f"""
WITH {_VEMB_CTE},
vn2 AS (
  SELECT vec_id, embedding,
         {qdot_sql('embedding', 'embedding')} AS n2q
  FROM vembeddings
),
vnorm AS (
  SELECT vec_id,
         list_transform(embedding, c -> CAST(c AS DOUBLE)
           / sqrt(CAST(n2q AS DOUBLE) / 1e12)) AS xn
  FROM vn2 WHERE n2q >= 1
),
ms AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
cb AS (
  SELECT ms.m, e.vec_id AS cid,
         e.xn[1 + {_PQ_SUB} * ms.m : {_PQ_SUB} * (ms.m + 1)] AS cvec
  FROM vnorm e, ms
  WHERE e.vec_id % {_PQ_CB_MOD_SQL} = 2
),
sv AS (
  SELECT e.vec_id, ms.m,
         e.xn[1 + {_PQ_SUB} * ms.m : {_PQ_SUB} * (ms.m + 1)] AS sv
  FROM vnorm e, ms
),
costs AS (
  SELECT s.vec_id, s.m, cb.cid,
         {qdotd_sql('cb.cvec', 'cb.cvec')}
           - 2 * {qdotd_sql('s.sv', 'cb.cvec')} AS cost
  FROM sv s JOIN cb ON cb.m = s.m
),
codes AS (
  SELECT vec_id, m, cid AS code FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY cost, cid) AS rn
    FROM costs
  ) WHERE rn = 1
),
qs AS (
  SELECT s.vec_id AS query_id, s.m, s.sv
  FROM sv s WHERE s.vec_id % {_QUERY_MOD_SQL} = 0
),
lut AS (
  SELECT q.query_id, cb.m, cb.cid, {qdotd_sql('q.sv', 'cb.cvec')} AS ld
  FROM qs q JOIN cb ON cb.m = q.m
),
scored AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         CAST(sum(l.ld) AS BIGINT) AS adot_q
  FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.code
  WHERE l.query_id <> c.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adot_q, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adot_q DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {_K}
"""


def _pq_normalize(df: DataFrame) -> DataFrame:
    """Exact L2 normalization: components become double, divided by
    sqrt of the integer-quantized norm² — deterministic across
    engines (see the section note). Keeps the column name
    ``embedding`` so downstream slicing is type-agnostic."""
    return (
        df.withColumn("n2q", qdot(F.col("embedding"), F.col("embedding")))
        .where(F.col("n2q") >= 1)
        .select(
            "vec_id",
            F.expr(
                "transform(embedding, c -> CAST(c AS DOUBLE)"
                " / sqrt(CAST(n2q AS DOUBLE) / 1e12))"
            ).alias("embedding"),
        )
    )


def _pq_subvectors(df: DataFrame, id_alias: str) -> DataFrame:
    """(id, m, sv): the M={_PQ_M} subspace slices of each vector."""
    parts = F.array(*[
        F.struct(
            F.lit(m).cast("long").alias("m"),
            F.slice("embedding", 1 + _PQ_SUB * m, _PQ_SUB).alias("sv"),
        )
        for m in range(_PQ_M)
    ])
    return df.select(
        F.col("vec_id").alias(id_alias), F.explode(parts).alias("x")
    ).select(id_alias, "x.m", "x.sv")


@query("pq_adc_topk", PQ_ADC_TOPK_ORACLE)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_K} by approximate cosine (inner product of normalized
    vectors) over PQ codes with an ADC lookup-table scan — the
    compressed serving path (store scans M={_PQ_M} small codes per
    vector, never the floats).

    Scale shape: the codebook (~{_PQ_CB_TARGET} codewords ×
    {_PQ_M} subspaces, corpus-invariant by the scaled-mod subset) is
    BROADCAST for both phases. Encoding is the textbook M·K distance
    evaluations per vector — a broadcast join + one map-side-
    combinable min-struct groupBy, no corpus shuffle beyond the
    (vec_id, m) combine. The ADC scan joins the code column against
    the broadcast LUT (|queries|·M·K rows, bounded) and partial-
    aggregates the M lookups per (query, vector) map-side before the
    single score shuffle — the same candidate volume as the brute
    baseline but over integer codes instead of 64-float arrays; in
    production this scan composes with IVF's cell pruning (IVF-PQ)
    exactly as ivf_topk already routes candidates. Scores stay in
    exact integer qdot units (adot_q), so ranking is engine-exact.
    Result memoized per (application, sf_dir): pq_recall grades this
    index against the brute ground truth in the same session."""
    return _memo_topk(
        spark, sf_dir, "pq_adc_topk", lambda: _build_pq(spark, sf_dir)
    )


def _build_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _indexable(load_table(spark, "embeddings", sf_dir)).select(
        "vec_id", "embedding"
    )
    # subsets are taken on RAW ids (their scaled mod counts the full
    # indexable store, matching the oracle's vembeddings-count mod),
    # then normalized
    cb = _pq_subvectors(
        _pq_normalize(_scaled_mod_subset(emb, _PQ_CB_MOD, _PQ_CB_TARGET, 2)),
        "cid",
    ).select(
        "m", "cid", F.col("sv").alias("cvec"),
        qdot_unrolled(F.col("sv"), F.col("sv"), _PQ_SUB).alias("cn"),
    )
    sv = _pq_subvectors(_pq_normalize(emb), "vec_id")
    # Encode argmin: measured THREE times now, keep the K-row join +
    # map-side min-struct groupBy. (1) r12: the full 64-candidate
    # unrolled least-chain blows the JVM 64 KB codegen method limit
    # and falls back to interpreted — 11.9 vs 4.16 s. (2) r12: an
    # eager codebook checkpoint serializes a scan that the concurrent
    # broadcast builds absorb — 4.3-4.5 vs 3.7-4.2 s. (3) r13
    # (VERDICT ask #5, the "chunked argmin"): codewords packed
    # 8-per-row, per-chunk min as a fixed 8-term F.least over
    # element_at structs (codegen-safe, ~40 ops/expression), final
    # groupBy over 8× fewer rows — bit-identical (oracle MATCH) but
    # 8.7-10.4 s vs 4-5.6 s same-session: the when/size guards,
    # element_at struct materialization and the least's struct
    # comparisons cost ~2× the hash-agg probes they replace. The
    # join+groupBy IS the unrolling — one small codegen'd qdot per
    # joined row and a map-side combine to one row per (vec_id, m) —
    # and this conclusion is now pinned; stop re-litigating.
    costs = sv.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "cid",
        (
            F.col("cn")
            - 2 * qdot_unrolled(F.col("sv"), F.col("cvec"), _PQ_SUB)
        ).alias("cost"),
    )
    codes = (
        costs.groupBy("vec_id", "m")
        .agg(F.min(F.struct("cost", "cid")).alias("mc"))
        .select("vec_id", "m", F.col("mc.cid").alias("code"))
    )
    qs = _pq_subvectors(
        _pq_normalize(_scaled_mod_subset(emb, _QUERY_MOD, _QUERY_TARGET, 0)),
        "query_id",
    )
    lut = qs.join(F.broadcast(cb), "m").select(
        "query_id", "m", F.col("cid").alias("code"),
        qdot_unrolled(F.col("sv"), F.col("cvec"), _PQ_SUB).alias("ld"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("ld").cast("long").alias("adot_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adot_q"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _K)
        .select("query_id", "neighbor_id", "adot_q", "rank")
    )


PQ_RECALL_ORACLE = f"""
WITH brute AS ({COSINE_TOPK_ORACLE}),
approx AS ({PQ_ADC_TOPK_ORACLE}),
hits AS (
  SELECT b.query_id,
         CAST(count(a.neighbor_id) AS BIGINT) AS n_hits
  FROM brute b
  LEFT JOIN approx a
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
  GROUP BY b.query_id
)
SELECT query_id, n_hits,
       CAST(n_hits * 1000 // {_K} AS BIGINT) AS recall_milli
FROM hits
"""


@query("pq_recall", PQ_RECALL_ORACLE)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_K} of the PQ/ADC compressed scan against the
    brute-force ground truth — the acceptance metric that decides a
    codebook's compression/recall trade-off before it serves (the
    ann_recall pattern, pointed at the quantized index: together the
    two metrics separate cell-routing loss from quantization loss).

    Plan shape: both sides come from the session top-k memo
    (_memo_topk) — ≤ |queries|·k rows each — so the metric is a join
    of two tiny in-memory tables when the index queries already ran
    (bench runs all of them) and each index plan executes exactly
    once when they haven't."""
    brute = q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_pq_adc_topk(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an"),
        F.lit(1).alias("hit"),
    )
    return (
        brute.join(
            approx,
            (F.col("query_id") == F.col("aq"))
            & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("hit").cast("long").alias("n_hits"))
        .select(
            "query_id", "n_hits",
            F.expr(f"n_hits * 1000 div {_K}").cast("long").alias(
                "recall_milli"
            ),
        )
    )
