"""Query registry — the single source of truth behind __spark_entry__.py.

Importing this package imports every plan module, which registers its
queries (and their DuckDB oracle SQL) via the ``@query`` decorator in
``registry``.
"""

from psx_data_pipeline_spark.plans.registry import QUERIES, ORACLE_SQL, query  # noqa: F401

# Plan modules register themselves on import — keep this list in sync
# with SURVEY.md §2 coverage.
from psx_data_pipeline_spark.plans import tpch  # noqa: F401,E402
from psx_data_pipeline_spark.plans import ticker  # noqa: F401,E402
from psx_data_pipeline_spark.plans import analytics  # noqa: F401,E402
from psx_data_pipeline_spark.plans import dedup  # noqa: F401,E402
from psx_data_pipeline_spark.plans import text  # noqa: F401,E402
from psx_data_pipeline_spark.plans import similarity  # noqa: F401,E402
from psx_data_pipeline_spark.plans import events  # noqa: F401,E402
from psx_data_pipeline_spark.plans import scrape  # noqa: F401,E402
from psx_data_pipeline_spark.plans import stream  # noqa: F401,E402
from psx_data_pipeline_spark.plans import multimodal  # noqa: F401,E402
from psx_data_pipeline_spark.plans import spans  # noqa: F401,E402
from psx_data_pipeline_spark.plans import retrieval  # noqa: F401,E402
from psx_data_pipeline_spark.plans import io_queries  # noqa: F401,E402
from psx_data_pipeline_spark.plans import distrib  # noqa: F401,E402
from psx_data_pipeline_spark.plans import linkage  # noqa: F401,E402
from psx_data_pipeline_spark.plans import layout  # noqa: F401,E402
from psx_data_pipeline_spark.plans import ivm  # noqa: F401,E402
from psx_data_pipeline_spark.plans import timeseries  # noqa: F401,E402
from psx_data_pipeline_spark.plans import calibrate  # noqa: F401,E402
from psx_data_pipeline_spark.plans import safety  # noqa: F401,E402
from psx_data_pipeline_spark.plans import estimators  # noqa: F401,E402
from psx_data_pipeline_spark.plans import corpus  # noqa: F401,E402
from psx_data_pipeline_spark.plans import rules  # noqa: F401,E402
from psx_data_pipeline_spark.plans import lm  # noqa: F401,E402
from psx_data_pipeline_spark.plans import clustering  # noqa: F401,E402
from psx_data_pipeline_spark.plans import mining  # noqa: F401,E402
from psx_data_pipeline_spark.plans import governance  # noqa: F401,E402
from psx_data_pipeline_spark.plans import indexing  # noqa: F401,E402
from psx_data_pipeline_spark.plans import winnowing  # noqa: F401,E402
from psx_data_pipeline_spark.plans import lakehouse  # noqa: F401,E402
from psx_data_pipeline_spark.plans import skipping  # noqa: F401,E402
from psx_data_pipeline_spark.plans import weaklabel  # noqa: F401,E402
from psx_data_pipeline_spark.plans import procurement  # noqa: F401,E402
from psx_data_pipeline_spark.plans import marketbasket  # noqa: F401,E402
from psx_data_pipeline_spark.plans import profiling  # noqa: F401,E402
from psx_data_pipeline_spark.plans import tpch_extra  # noqa: F401,E402
from psx_data_pipeline_spark.plans import outliers  # noqa: F401,E402
from psx_data_pipeline_spark.plans import behavior  # noqa: F401,E402
from psx_data_pipeline_spark.plans import seasonal  # noqa: F401,E402
from psx_data_pipeline_spark.plans import supply  # noqa: F401,E402
from psx_data_pipeline_spark.plans import pii  # noqa: F401,E402
from psx_data_pipeline_spark.plans import integrity  # noqa: F401,E402
from psx_data_pipeline_spark.plans import temporal  # noqa: F401,E402
from psx_data_pipeline_spark.plans import tpch_more  # noqa: F401,E402
from psx_data_pipeline_spark.plans import tpch_classics  # noqa: F401,E402
from psx_data_pipeline_spark.plans import tpch_final  # noqa: F401,E402
from psx_data_pipeline_spark.plans import drift  # noqa: F401,E402

# Benchmark hook: releases every session memo and held frame (the
# registry in psx_data_pipeline_spark.session) so a memoized query's
# re-run measures the plan, not the memo.
from psx_data_pipeline_spark.session import clear_session_memos  # noqa: F401,E402

# Memo ownership — the single declaration bench.py and
# tools/scale_summary.py read. OWNERS build a session memo as part of
# their plan (bench clears memos before their min-of-two re-run, so
# their recorded wall is COLD); CONSUMERS read a memo an upstream
# owner built (bench runs registration order, so their recorded wall
# is deliberately WARM — the build cost belongs to the owner). Any
# cross-run wall-time comparison (the SCALE_SUMMARY growth column)
# must mark these: a warm 1× against a cold 10× reads as a
# scale-killer that is not there (round-7 verdict: semdedup "19.2×").
MEMO_OWNERS = frozenset({
    "ticker_sync_changes", "cosine_topk", "ivf_topk", "pq_adc_topk",
    "kmeans_topics", "rename_detection_parity",
    # their working frames are held for the session (session.hold),
    # so a re-measurement must drop them
    "minhash_calibration", "dup_span_fraction", "vocab_overlap_sketch",
})
MEMO_CONSUMERS = frozenset({
    "change_log_format", "ann_recall", "pq_recall", "semdedup",
    "rename_detection",
})
