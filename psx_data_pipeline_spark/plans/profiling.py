"""Distribution profiling for scale planning: join-key skew audits
and mergeable histogram quantiles — the reports an operator reads
BEFORE picking a partitioning (salt this key?) or a sketch (is the
bounded histogram accurate enough to replace the exact sort?).

100 TB shapes: both reduce the corpus ONCE on the audited key (the
same exchange the real join/groupBy would pay) and then operate on
count-of-counts / bounded-bin tables whose size is set by the VALUE
DOMAIN, not the row count. No global sorts; percentile selection is
the repo's ceiling-rank min-CASE over a cumulative window
(plans/distrib.group_quantiles convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from psx_data_pipeline_spark.plans.registry import query
from psx_data_pipeline_spark.session import hold
from psx_data_pipeline_spark.sources.fixtures import load_table

# --- join-key skew audit -------------------------------------------------------

# The audited key catalogue: (audit name, table, key column). These
# are the repo's real join/agg keys — the audit answers "which of
# them needs salting at 1000 executors".
_SKEW_KEYS = [
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("events.user_id", "events", "user_id"),
]


def _skew_cte(table: str, col: str, name: str) -> str:
    return f"""
  SELECT '{name}' AS join_key, cnt, CAST(count(*) AS BIGINT) AS n_keys
  FROM (
    SELECT CAST(count(*) AS BIGINT) AS cnt FROM {table}
    WHERE {col} IS NOT NULL GROUP BY {col}
  ) GROUP BY cnt
"""


def _pq_case(q: int, div: str) -> str:
    # smallest cnt whose cumulative key count reaches ceil(q% of keys)
    return f"min(CASE WHEN cum >= ({q} * n + 99) {div} 100 THEN cnt END)"


JOIN_SKEW_ORACLE = f"""
WITH cc AS (
  {" UNION ALL ".join(_skew_cte(t, c, n) for n, t, c in _SKEW_KEYS)}
),
cw AS (
  SELECT join_key, cnt, n_keys,
         sum(n_keys) OVER (PARTITION BY join_key ORDER BY cnt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(n_keys) OVER (PARTITION BY join_key) AS n,
         sum(cnt * n_keys) OVER (PARTITION BY join_key) AS total_rows
  FROM cc
)
SELECT join_key,
       CAST(max(n) AS BIGINT) AS n_keys,
       CAST(max(total_rows) AS BIGINT) AS total_rows,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       CAST({_pq_case(50, '//')} AS BIGINT) AS p50_cnt,
       CAST({_pq_case(99, '//')} AS BIGINT) AS p99_cnt,
       CAST(max(cnt) * max(n) * 1000 // max(total_rows) AS BIGINT)
         AS imbalance_permille
FROM cw GROUP BY join_key
"""


@query("join_skew_audit", JOIN_SKEW_ORACLE)
def q_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per audited join key: the per-key row-count distribution (max,
    p50, p99) and the imbalance factor max/mean in permille — 1000
    means perfectly even, and the value IS the straggler multiplier a
    shuffle on this key hands its hottest task. The repo's salting
    threshold reads this number (skew_salted_counts is the cure this
    audit prescribes).

    Shape per key: one count aggregate on the key (the exchange the
    real join pays anyway), one count-of-counts aggregate — whose
    cardinality is the number of DISTINCT frequencies, tiny — then
    windows over that."""
    parts = []
    for name, table, col in _SKEW_KEYS:
        df = load_table(spark, table, sf_dir).where(F.col(col).isNotNull())
        per_key = df.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        parts.append(
            per_key.groupBy("cnt").agg(
                F.count(F.lit(1)).cast("long").alias("n_keys")
            ).select(F.lit(name).alias("join_key"), "cnt", "n_keys")
        )
    cc = parts[0]
    for p in parts[1:]:
        cc = cc.unionByName(p)
    w_cum = (
        Window.partitionBy("join_key").orderBy("cnt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("join_key")
    cw = cc.select(
        "join_key", "cnt", "n_keys",
        F.sum("n_keys").over(w_cum).alias("cum"),
        F.sum("n_keys").over(w_all).alias("n"),
        F.sum(F.col("cnt") * F.col("n_keys")).over(w_all).alias("total_rows"),
    )
    return cw.groupBy("join_key").agg(
        F.max("n").cast("long").alias("n_keys"),
        F.max("total_rows").cast("long").alias("total_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.expr(f"CAST({_pq_case(50, 'div')} AS BIGINT)").alias("p50_cnt"),
        F.expr(f"CAST({_pq_case(99, 'div')} AS BIGINT)").alias("p99_cnt"),
        F.expr(
            "CAST(max(cnt) * max(n) * 1000 div max(total_rows) AS BIGINT)"
        ).alias("imbalance_permille"),
    )


# --- mergeable histogram quantiles vs exact ------------------------------------

# Fixed-width bins make the quantile state MERGEABLE and bounded (the
# map-side combine property exact rank selection lacks); the audit
# carries the exact percentile next to the histogram estimate so the
# error budget is measured, not assumed. Lower-edge estimates are
# at most (bin width - 1) below the exact value, never above.
_BIN_W = 64  # n_chars per bin


def _hq_case(q: int, div: str, v: str) -> str:
    return f"min(CASE WHEN cum >= ({q} * n + 99) {div} 100 THEN {v} END)"


HISTOGRAM_QUANTILES_ORACLE = f"""
WITH vc AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v, count(*) AS c
  FROM documents WHERE n_chars IS NOT NULL
  GROUP BY 1, 2
),
exact AS (
  SELECT source,
         CAST(max(n) AS BIGINT) AS n_docs,
         CAST({_hq_case(50, '//', 'v')} AS BIGINT) AS p50_exact,
         CAST({_hq_case(90, '//', 'v')} AS BIGINT) AS p90_exact,
         CAST({_hq_case(99, '//', 'v')} AS BIGINT) AS p99_exact
  FROM (
    SELECT source, v,
           sum(c) OVER (PARTITION BY source ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY source) AS n
    FROM vc
  ) GROUP BY source
),
hist AS (
  SELECT source, v // {_BIN_W} AS bin, sum(c) AS c
  FROM vc GROUP BY 1, 2
),
approx AS (
  SELECT source,
         CAST({_hq_case(50, '//', f'bin * {_BIN_W}')} AS BIGINT)
           AS p50_approx,
         CAST({_hq_case(90, '//', f'bin * {_BIN_W}')} AS BIGINT)
           AS p90_approx,
         CAST({_hq_case(99, '//', f'bin * {_BIN_W}')} AS BIGINT)
           AS p99_approx
  FROM (
    SELECT source, bin,
           sum(c) OVER (PARTITION BY source ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY source) AS n
    FROM hist
  ) GROUP BY source
)
SELECT e.source, e.n_docs,
       e.p50_exact, a.p50_approx,
       e.p90_exact, a.p90_approx,
       e.p99_exact, a.p99_approx,
       CAST(greatest(e.p50_exact - a.p50_approx,
                     e.p90_exact - a.p90_approx,
                     e.p99_exact - a.p99_approx) AS BIGINT) AS max_err
FROM exact e JOIN approx a ON e.source = a.source
"""


@query("histogram_quantiles", HISTOGRAM_QUANTILES_ORACLE)
def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: document-length percentiles from a fixed-width
    mergeable histogram next to the exact rank percentiles, with the
    observed worst error — the acceptance report that licenses the
    bounded sketch at scales where exact ranks would need a sort.
    Estimates are bin lower edges, so error is one-sided in
    [0, bin width).

    Shape: one (source, value) aggregate feeds BOTH paths; the
    histogram path re-aggregates it into <= max(v)/width bins. All
    windows run over distinct-value/bin rows."""
    docs = load_table(spark, "documents", sf_dir).where(
        F.col("n_chars").isNotNull()
    )
    vc = docs.groupBy(
        "source", F.col("n_chars").cast("long").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    vc = hold(vc.localCheckpoint())  # shared by both paths

    def pct(df: DataFrame, vcol: str, vexpr: str, names: list[str]) -> DataFrame:
        w_cum = (
            Window.partitionBy("source").orderBy(vcol)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy("source")
        cw = df.select(
            "source", F.col(vcol),
            F.sum("c").over(w_cum).alias("cum"),
            F.sum("c").over(w_all).alias("n"),
        )
        aggs = [
            F.expr(f"CAST({_hq_case(q, 'div', vexpr)} AS BIGINT)").alias(nm)
            for q, nm in zip((50, 90, 99), names)
        ]
        return cw.groupBy("source").agg(
            F.max("n").cast("long").alias("n_docs"), *aggs
        )

    exact = pct(vc, "v", "v", ["p50_exact", "p90_exact", "p99_exact"])
    hist = vc.groupBy(
        "source", F.expr(f"v div {_BIN_W}").alias("bin")
    ).agg(F.sum("c").alias("c"))
    approx = pct(
        hist, "bin", f"bin * {_BIN_W}",
        ["p50_approx", "p90_approx", "p99_approx"],
    ).drop("n_docs")
    return exact.join(approx, "source").select(
        "source", "n_docs",
        "p50_exact", "p50_approx",
        "p90_exact", "p90_approx",
        "p99_exact", "p99_approx",
        F.greatest(
            F.col("p50_exact") - F.col("p50_approx"),
            F.col("p90_exact") - F.col("p90_approx"),
            F.col("p99_exact") - F.col("p99_approx"),
        ).cast("long").alias("max_err"),
    )
