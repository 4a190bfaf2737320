"""Plan-shape guardrails: scale killers must never appear.

Every registered query's physical plan is checked for operators that
do not survive 100 TB: cartesian products and broadcast nested-loop
joins (the shapes Catalyst falls back to when a join has no usable
equi-condition). A query that needs a theta-join must express it as a
blocked/bucketed equi-join (see operators/diff.py, operators/dedup.py)
— this test keeps that property from regressing.

Streaming queries are exercised through their batch-twin plans the
registry exposes; plans are built at sf0.001 (plan shape does not
depend on data volume, only on statistics-driven strategy choices —
forbidden shapes are forbidden at every size).
"""

from __future__ import annotations

import pytest

from psx_data_pipeline_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")

# Intentional bounded broadcasts: brute-force cosine compares the
# corpus against a BROADCAST top-k query set (definitionally
# all-pairs vs a tiny constant side — operators/similarity.py:70),
# IVF probes query×centroid where both sides are size-capped via the
# corpus-scaled mod (plans/similarity.py), and word_pmi / oov_rate
# carry corpus totals / the top-K vocabulary as ONE broadcast scalar
# row (unigram_logprob's broadcast is likewise its single-row token
# total). The corpus side is never the build side, so these survive
# 100 TB.
BOUNDED_BROADCAST_OK = {
    "cosine_topk", "ivf_topk", "word_pmi", "oov_rate", "unigram_logprob",
    "heavy_shingles",  # single-row corpus total rides as a broadcast
    "dsir_weights",  # single-row corpus totals ride as a broadcast
    "embedding_quantize",  # one broadcast row of per-dim ranges
    "shard_manifest",  # single-row corpus-token total rides as a broadcast
    "stratified_sample",  # single-row corpus doc total rides as a broadcast
    "ann_recall",  # composes cosine_topk's bounded broadcast baseline
    # the scaled-mod subset's single-row count broadcast (same shape
    # as cosine/ivf above) feeding codebook + query selection
    "pq_adc_topk", "pq_recall",
    # source-PAIR generation joins the distinct source list against
    # itself on a < b: the nested side is bounded metadata (the
    # source catalogue), never corpus rows — register merges
    # downstream are equi-joins
    "vocab_overlap_sketch",
    # the quantization-range agg rides as ONE broadcast row (same
    # shape as embedding_quantize's per-dim ranges)
    "zorder_layout",
    # the pooled-count single row broadcast into the 1001-point grid
    "quantile_calibrate",
    # single-row vocabulary-size broadcast (same shape as
    # unigram_logprob's token total); perplexity_buckets composes it
    "bigram_perplexity", "perplexity_buckets",
    # single-row weight-total broadcast onto the bounded source
    # catalogue (shard_manifest's shape)
    "mixing_schedule",
    # the K=8-row centroid table rides each assignment round as a
    # bounded broadcast; the corpus is never the build side
    # (semdedup composes the same assignment + a K-row medoid join)
    "kmeans_topics", "semdedup",
    # the percentile row and the signup-cohort count are both
    # single-row aggregates joined by a bounded broadcast cross join
    "conversion_lag",
    # the data-borne latest-day scalar rides as one broadcast row
    "seasonal_baseline",
    # composes zorder_layout's single quantization-range broadcast
    "zorder_benefit",
    # cosine_topk's bounded query-set broadcast with the extra
    # label-inequality predicate
    "hard_negatives",
    # each edge's three single-row aggregates assemble via bounded
    # broadcast cross joins (conversion_lag's shape, ×4 edges)
    "fk_orphan_audit",
    # Q22's scalar threshold (the positive-balance floor-average) is
    # ONE broadcast row cross-joined onto the candidate scan —
    # conversion_lag's shape
    "tpch_q22_sales_opportunity",
    # Q11's global revenue total and Q15's global argmax each ride as
    # ONE broadcast row cross-joined onto the group rollup — the same
    # whitelisted scalar-threshold shape as Q22
    "tpch_q11_important_parts", "tpch_q15_top_supplier",
}


# One DataFrame build per query for the whole module: some builders
# eagerly localCheckpoint shared subplans, so re-building for every
# guard would re-execute those, not just re-plan. The cache fills
# over a thread pool on first access (the oracle sweep's pattern —
# tests/test_queries_oracle.py): builds are independent Spark plan
# constructions whose eager checkpoints interleave across local
# cores, cutting the module's serial ~150 s wall. Memo-owning
# builders go first, serially, so consumers read a settled memo.
import threading
from concurrent.futures import ThreadPoolExecutor

_DF_CACHE: dict[str, object] = {}
_cache_lock = threading.Lock()


def _build(spark, name):
    """Capture per-name failures instead of raising: one broken
    builder must fail ITS tests with the real exception, not poison
    the bulk fill and surface as KeyErrors everywhere else."""
    try:
        return QUERIES[name](spark, SF_DIR)
    except Exception as exc:  # noqa: BLE001 — re-raised per test
        return exc


def _plan_df(spark, name):
    with _cache_lock:
        if not _DF_CACHE:
            from psx_data_pipeline_spark.plans import MEMO_OWNERS

            owners = [n for n in sorted(QUERIES) if n in MEMO_OWNERS]
            rest = [n for n in sorted(QUERIES) if n not in MEMO_OWNERS]
            for n in owners:
                _DF_CACHE[n] = _build(spark, n)
            with ThreadPoolExecutor(max_workers=12) as pool:
                for n, df in zip(rest, pool.map(
                        lambda n: _build(spark, n), rest)):
                    _DF_CACHE[n] = df
    got = _DF_CACHE[name]
    if isinstance(got, Exception):
        # fresh wrapper per test: re-raising the SAME instance from
        # every consumer accumulates traceback frames across tests,
        # turning one broken builder into increasingly noisy output
        raise RuntimeError(f"builder {name!r} failed: {got!r}") from got
    return got


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_scale_killer_join(spark, name):
    df = _plan_df(spark, name)
    plan = df._jdf.queryExecution().executedPlan().toString()
    forbidden = (
        ("CartesianProduct",) if name in BOUNDED_BROADCAST_OK else FORBIDDEN
    )
    for op in forbidden:
        assert op not in plan, f"{name}: {op} in physical plan"


# --- unpartitioned-window guard ----------------------------------------------
#
# A Window with an empty partitionSpec funnels its whole input through
# ONE task — the classic silent scale killer (`WindowExec: No
# Partition Defined`). It is acceptable ONLY when the window's input
# is bounded by a DOMAIN (a score/value/bin/catalogue cardinality),
# never by corpus rows. Every admissible case is enumerated below with
# its bound and the EXACT number of unpartitioned Window nodes its
# optimized plan carries — a new global window anywhere (including
# inside a whitelisted query) fails the pin and must be justified
# here.
UNPARTITIONED_WINDOW_OK = {
    # per-brand revenue share: window over the ≤|brands| rollup
    "brand_revenue_share": 1,
    # percentile over SECOND-bucketed lags: time-resolution-bounded
    "conversion_lag": 2,
    # (kmeans_topics' seeding windows live behind the per-round
    # K-row localCheckpoint truncation now — its final plan pins 0)
    # fixed KS bin grid (pooled cume + per-source cume)
    "ks_drift": 2,
    # source catalogue rows (weights + cumulative mixing schedule)
    "mixing_schedule": 2,
    # distinct lex_div scores: ratio-of-token-counts domain
    "quality_tiles": 2,
    # 1001-point pooled calibration grid
    "quantile_calibrate": 2,
    # source catalogue temperature weights
    "source_temperature_weights": 1,
    # salted two-phase top-M: ≤ salts·M survivor rows
    "weighted_sample": 1,
}


def _unpartitioned_windows(df) -> int:
    """Count Window nodes with an empty partitionSpec in the
    optimized logical plan (the physical toString is ambiguous about
    which trailing bracket group is the partition spec)."""

    count = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty():
                count += 1
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    return count


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unpartitioned_corpus_window(spark, name):
    df = _plan_df(spark, name)
    n = _unpartitioned_windows(df)
    allowed = UNPARTITIONED_WINDOW_OK.get(name, 0)
    assert n == allowed, (
        f"{name}: {n} unpartitioned Window node(s) in the optimized "
        f"plan, whitelist pins {allowed} — a global window funnels "
        "its input through one task; bound it by a domain (the "
        "group_quantiles / quality_tiles pattern) or justify a new "
        "pin in UNPARTITIONED_WINDOW_OK"
    )


# --- driver-hashable output-schema guard --------------------------------------
#
# The driver's oracle compare canonicalizes results through
# pandas.sort_values, which raises "unhashable type: 'list'" on any
# ArrayType cell (round 7: inverted_index / winnowing_fingerprints
# went driver-RED while the local gate passed). No registered query
# may emit a top-level Array/Map/Struct column — serialize to a
# string in the final projection on both sides (concat_ws vs
# array_to_string, coalescing DuckDB's empty-array NULL).


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_output_schema_is_driver_hashable(spark, name):
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = _plan_df(spark, name)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: top-level container column(s) {bad} — the driver's "
        "pandas canonicalizer cannot hash list cells; serialize to a "
        "string in the final projection on BOTH engine sides"
    )


def test_container_guards_catch_a_deliberate_array(spark):
    """Negative control: the schema predicate flags an ArrayType
    column, and the local canonicalizer refuses list cells (it used
    to stringify them, letting the local gate pass what the driver
    rejects)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, MapType, StructType

    from tests.oracle_check import _canon

    df = spark.range(1).select(F.array(F.lit(1), F.lit(2)).alias("a"))
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert bad == ["a"]
    with pytest.raises(TypeError, match="driver-unhashable"):
        _canon([1, 2])


# --- stray-collect guard -----------------------------------------------------
#
# `.collect()` / `.toPandas()` pulls data onto the driver: at 100 TB
# that is either an OOM or a hidden serial loop. The ONLY admissible
# use is a bounded scalar, and today there is none: the one site, the
# large-star connected-components convergence check, went with that
# operator. New sites must be argued into this whitelist, not slipped
# in beside it.
_COLLECT_WHITELIST: dict[str, int] = {}


def test_no_stray_driver_collect():
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "psx_data_pipeline_spark"
    hits: dict[str, int] = {}
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        for line in py.read_text().splitlines():
            stripped = line.strip()
            if stripped.startswith("#"):
                continue
            if ".collect(" in stripped or ".toPandas(" in stripped:
                hits[rel] = hits.get(rel, 0) + 1
    assert hits == _COLLECT_WHITELIST, (
        f"driver-side collect/toPandas sites changed: {hits} != "
        f"{_COLLECT_WHITELIST} — data must stay distributed; a new "
        "bounded-scalar site needs a whitelist entry with its bound"
    )
