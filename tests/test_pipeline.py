"""Merge / sort / dedup pipeline tests — coverage the reference lacks
(its `index.js` merge+sort path is untested, SURVEY.md §5)."""

from __future__ import annotations

from cgtcalc_data_transformer_spark.operators.pipeline import merge_sorted, report


def _lines_df(spark, lines):
    return spark.createDataFrame([(ln,) for ln in lines], "line string")


def test_chronological_sort(spark):
    new = _lines_df(
        spark,
        [
            "BUY 19/09/2025 AAA 1 10 0",
            "SELL 05/01/2024 BBB 2 20 0",
            "BUY 01/03/2024 CCC 3 30 0",
        ],
    )
    got = [r.line for r in merge_sorted(None, new).collect()]
    assert got == [
        "SELL 05/01/2024 BBB 2 20 0",
        "BUY 01/03/2024 CCC 3 30 0",
        "BUY 19/09/2025 AAA 1 10 0",
    ]


def test_stable_merge_existing_before_new(spark):
    existing = _lines_df(spark, ["BUY 01/01/2024 OLD1 1 1 0", "BUY 01/01/2024 OLD2 1 1 0"])
    new = _lines_df(spark, ["BUY 01/01/2024 NEW1 1 1 0"])
    got = [r.line for r in merge_sorted(existing, new).collect()]
    assert got == [
        "BUY 01/01/2024 OLD1 1 1 0",
        "BUY 01/01/2024 OLD2 1 1 0",
        "BUY 01/01/2024 NEW1 1 1 0",
    ]


def test_union_all_keeps_duplicates_by_default(spark):
    existing = _lines_df(spark, ["BUY 01/01/2024 X 1 1 0"])
    new = _lines_df(spark, ["BUY 01/01/2024 X 1 1 0"])
    assert merge_sorted(existing, new).count() == 2


def test_dedup_mode(spark):
    existing = _lines_df(spark, ["BUY 01/01/2024 X 1 1 0"])
    new = _lines_df(spark, ["BUY 01/01/2024 X 1 1 0", "SELL 02/01/2024 Y 1 1 0"])
    got = [r.line for r in merge_sorted(existing, new, dedup=True).collect()]
    assert got == ["BUY 01/01/2024 X 1 1 0", "SELL 02/01/2024 Y 1 1 0"]


def test_report():
    lines = [f"BUY 0{i}/01/2024 A 1 1 0" for i in range(1, 8)]
    rep = report(7, 7, iter(lines))
    assert rep["total"] == 7
    assert rep["new"] == 7
    assert len(rep["sample"]) == 5
    assert rep["sample"] == lines[:5]


def test_single_partition_mode_matches_range_sort(spark):
    """``partitioned=False`` (one partition, sortWithinPartitions) gives
    the same order as the range-partitioned sort, with and without
    dedup, and its observation counts new lines before dedup."""
    from pyspark.sql import Observation

    existing = _lines_df(
        spark, ["BUY 01/01/2024 X 1 1 0", "SELL 03/02/2024 Y 1 1 0", "BUY 01/01/2024 OLD 1 1 0"]
    )
    new = _lines_df(
        spark,
        ["BUY 02/01/2024 Z 1 1 0", "BUY 01/01/2024 X 1 1 0", "BUY 01/01/2024 NEW 1 1 0"],
    )
    for dedup, total in [(False, 6), (True, 5)]:
        want = [r.line for r in merge_sorted(existing, new, dedup=dedup).collect()]
        obs = Observation()
        single = merge_sorted(existing, new, dedup=dedup, partitioned=False, observation=obs)
        assert single.rdd.getNumPartitions() == 1
        assert [r.line for r in single.collect()] == want
        assert obs.get == {"total": total, "new": 3}


def test_tag_probe_does_not_poison_pyspark_logger(spark):
    """Regression for VERDICT r9 #1: merge_sorted's _metadata probe
    muted `DataFrameQueryContextLogger` via stdlib logging.getLogger,
    which CREATES a plain logging.Logger and caches it by name.
    PySpark 4's captured-error path later fetches the same name
    expecting its PySparkLogger subclass (whose .exception accepts a
    `file=` kwarg) and crashed with
    `TypeError: Logger._log() got an unexpected keyword argument 'file'`,
    masking the real Spark exception process-wide. After any pipeline
    run, a post-pipeline ANSI error must still surface as the real
    Spark exception, not the TypeError."""
    import logging

    from pyspark.logger import PySparkLogger
    from pyspark.sql import functions as F

    # 1. Run the pipeline (in-memory source exercises the probe's
    #    failure branch — the one that touches the logger).
    merge_sorted(None, _lines_df(spark, ["BUY 01/01/2024 A 1 1 0"])).collect()

    # 2. The cached logger must still be PySpark's subclass.
    assert isinstance(
        logging.getLogger("DataFrameQueryContextLogger"), PySparkLogger
    )

    # 3. A post-pipeline ANSI overflow surfaces as the Spark error,
    #    with its real message — not a masking TypeError.
    import pytest

    df = spark.createDataFrame([(2**62,), (2**62,)], "x long")
    with pytest.raises(Exception, match="(?i)overflow|out of range") as ei:
        df.agg(F.sum(F.col("x") + F.col("x"))).collect()
    assert not isinstance(ei.value, TypeError)
