"""Write-then-read equality for the CSV/JSON sinks (S8/S9/K1/K2) —
the driver's oracle can't observe sinks, so pytest is the gate."""

from __future__ import annotations

from psx_data_pipeline_spark.sources.io import (
    CSV_COLUMNS,
    read_snapshot_json,
    read_tickers_csv,
    write_snapshot_json,
    write_tickers_csv,
)

ROWS = [
    ("HBL", "Habib Bank", "Banking", "https://example.com/HBL"),
    ("ENGRO", "Engro Corp", "Fertilizer", "https://example.com/ENGRO"),
    ("LPL", None, None, None),  # NULLs survive the round trip
]


def _fixture(spark):
    return spark.createDataFrame(
        ROWS, "symbol STRING, name STRING, sector STRING, url STRING"
    )


def test_csv_roundtrip_projects_three_columns(spark, tmp_path):
    df = _fixture(spark)
    path = str(tmp_path / "all_tickers_csv")
    write_tickers_csv(df, path)
    back = read_tickers_csv(spark, path)
    assert back.columns == CSV_COLUMNS  # url dropped, reference :505
    got = {tuple(r) for r in back.collect()}
    want = {(s, n, sec) for s, n, sec, _ in ROWS}
    assert got == want


def test_json_snapshot_roundtrip_and_dated_path(spark, tmp_path):
    df = _fixture(spark)
    base = str(tmp_path / "snapshots")
    path = write_snapshot_json(df, base, "2026-08-13")
    assert path.endswith("snapshot_date=2026-08-13")
    back = read_snapshot_json(spark, path)
    assert {tuple(r) for r in back.collect()} == set(ROWS)


def test_json_latest_snapshot_is_data_borne(spark, tmp_path):
    """Two dated snapshots; the 'latest' pick reads the max
    snapshot_date from the data (partition column), never mtime."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "snapshots")
    old = _fixture(spark).where(F.col("symbol") != "LPL")
    new = _fixture(spark)
    write_snapshot_json(old, base, "2026-08-12")
    write_snapshot_json(new, base, "2026-08-13")
    allsnaps = spark.read.schema(
        "symbol STRING, name STRING, sector STRING, url STRING"
    ).option("basePath", base).json(f"{base}/snapshot_date=*")
    latest_date = allsnaps.agg(F.max("snapshot_date")).collect()[0][0]
    latest = allsnaps.where(F.col("snapshot_date") == latest_date)
    assert str(latest_date) == "2026-08-13"
    assert latest.count() == 3


def test_change_log_append_accumulates(spark, tmp_path):
    from datetime import datetime

    from psx_data_pipeline_spark.sources.io import (
        append_change_log,
        read_change_log,
    )

    path = str(tmp_path / "ticker_changes")
    schema = "change_ts TIMESTAMP, change_type STRING, line STRING"
    run1 = spark.createDataFrame(
        [(datetime(2026, 8, 12, 18, 0), "ADDED", "+ HBL")], schema
    )
    run2 = spark.createDataFrame(
        [(datetime(2026, 8, 13, 18, 0), "DELETED", "- LPL")], schema
    )
    append_change_log(run1, path)
    append_change_log(run2, path)  # second run must not clobber the first
    got = {tuple(r) for r in read_change_log(spark, path).collect()}
    assert got == {
        (datetime(2026, 8, 12, 18, 0), "ADDED", "+ HBL"),
        (datetime(2026, 8, 13, 18, 0), "DELETED", "- LPL"),
    }


def test_partitioned_snapshot_write_prunes_on_read(spark, tmp_path):
    """Dated snapshots written as snapshot_date=... partitions must
    partition-prune: selecting one date scans only that directory
    (at 100 TB this is the difference between one day and ten
    years of IO)."""
    base = str(tmp_path / "parts")
    df = spark.createDataFrame(
        [("HBL", "2026-08-11"), ("ENGRO", "2026-08-11"),
         ("HBL", "2026-08-12")],
        "symbol STRING, snapshot_date STRING",
    )
    df.write.partitionBy("snapshot_date").mode("overwrite").parquet(base)
    snaps = spark.read.parquet(base)
    q = snaps.where(snaps["snapshot_date"] == "2026-08-12")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # pruned scan reads exactly one partition directory
    assert [r["symbol"] for r in q.collect()] == ["HBL"]


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Re-writing one partition must leave sibling partitions intact,
    and a dated read must partition-prune (PartitionFilters, not a
    data filter)."""
    from psx_data_pipeline_spark.sources.io import (
        read_partitioned_parquet,
        write_partitioned_parquet,
    )

    path = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [("AAA", "2024-01-01"), ("BBB", "2024-01-02")],
        "symbol string, snapshot_date string",
    )
    write_partitioned_parquet(base, path)
    # re-run day 2 with different content; day 1 must survive
    redo = spark.createDataFrame(
        [("CCC", "2024-01-02")], "symbol string, snapshot_date string"
    )
    write_partitioned_parquet(redo, path)
    rows = {
        # partition values come back type-inferred (DateType here)
        (r.symbol, str(r.snapshot_date))
        for r in read_partitioned_parquet(spark, path).collect()
    }
    assert rows == {("AAA", "2024-01-01"), ("CCC", "2024-01-02")}

    pruned = read_partitioned_parquet(spark, path, "2024-01-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(snapshot_date" in plan
    assert pruned.count() == 1


def test_orc_roundtrip_preserves_types(spark):
    """The ORC read-back schema is the written schema — no string
    widening, no timestamp mangling (csv_sink_roundtrip pins the
    opposite, all-string, contract)."""
    from psx_data_pipeline_spark.plans import QUERIES

    df = QUERIES["orc_sink_roundtrip"](spark, "/root/testdata/sf0.01")
    assert dict(df.dtypes) == {
        "o_orderkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        # the parquet fixture is TZ-naive (isAdjustedToUTC=false), so
        # Spark reads and ORC round-trips it as timestamp_ntz
        "o_orderdate": "timestamp_ntz",
    }


def test_csv_roundtrip_preserves_whitespace_and_empty(spark, tmp_path):
    """Round-10 hostile-ticker find: Spark's CSV writer trims cell
    whitespace by default (univocity ignoreLeading/TrailingWhiteSpace
    true on WRITE), so '  padded name  ' came back 'padded name' and
    ''/NULL collapsed. The sink must not mutate values: whitespace
    survives exactly, quoted '' and unquoted-empty NULL stay
    distinct, quotes/commas/tabs round-trip."""
    hostile = [
        ("1", "  padded name  ", "SEG", None),
        ("2", "", "", None),
        ("3", "   ", None, None),
        ("4", None, "SEG", None),
        ("5", 'quote"inside', "comma, inside", None),
        ("6", " tab\tin", "trailing ", None),
    ]
    df = spark.createDataFrame(
        hostile, "symbol STRING, name STRING, sector STRING, url STRING"
    )
    path = str(tmp_path / "hostile_csv")
    write_tickers_csv(df, path)
    got = {r["symbol"]: (r["name"], r["sector"])
           for r in read_tickers_csv(spark, path).collect()}
    assert got == {s: (n, sec) for s, n, sec, _ in hostile}


def test_empty_name_rename_matches_reference_semantics(spark):
    """Round-10 hostile-ticker find: `'' in name` is True in Python
    (the reference predicate) and contains(name, '') is true in both
    engines, but the short-substring blocking never emitted the empty
    gram, so an empty-named deleted row matched NOTHING while the
    complete-enumeration oracle matched it to the lowest added key.
    The container substring set now includes '' (operators/diff.py
    _short_subs)."""
    from psx_data_pipeline_spark.operators.diff import detect_renames

    deleted = spark.createDataFrame([(9, "")], "symbol_id long, name string")
    added = spark.createDataFrame(
        [(101, "beta works"), (100, "alpha corp")],
        "symbol_id long, name string",
    )
    got = detect_renames(deleted, added, key="symbol_id", name="name").collect()
    # score ties at 2 (contains, no shared tokens) -> lowest new_key wins
    assert [(r.old_key, r.new_key) for r in got] == [(9, 100)]
