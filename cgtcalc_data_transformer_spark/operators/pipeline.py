"""Merge / chronological-sort / sink pipeline.

The reference's end-of-run behavior (`/root/reference/index.js:108-122`):
read previous ``data.txt``, append the newly parsed lines (UNION ALL —
despite the "Set for exact deduplication" comment at `index.js:110`,
no dedup happens and re-runs double lines), sort ascending by the
date embedded in each line, rewrite the file. JS ``Array.sort`` is
stable, so equal-date lines keep insertion order: existing-file lines
before new ones, each in source order (`index.js:12-36,115,118`).

Spark's sort is not stable → we carry explicit tiebreakers:
``source_rank`` (0 = existing, 1 = new) and a per-source monotonic
sequence. Two physical shapes, one per sink mode:

- ``partitioned=True``: ``orderBy`` range-partitions on the date key,
  so the output is globally ordered across part files without a
  single-node bottleneck (scale mode).
- ``partitioned=False``: the byte-identical single ``data.txt``.
  ``coalesce(1)`` sits right after the union, before the dedup
  ``groupBy``, and the order comes from ``sortWithinPartitions`` on
  the same keys. One partition satisfies the aggregate's distribution,
  so parse, merge, dedup, sort and write run as one stage of one job
  with no Exchange — no range-sampling job, no shuffle.

``dedup=True`` implements the intent the reference comments but never
ships: exact line-level dedup before the sort.
"""

from __future__ import annotations

from collections.abc import Iterable
from itertools import islice

from pyspark.sql import DataFrame, Observation, functions as F

from cgtcalc_data_transformer_spark.functions.dates import date_key_from_ddmmyyyy
from cgtcalc_data_transformer_spark.functions.validation import require


def merge_sorted(
    existing: DataFrame | None,
    new: DataFrame,
    dedup: bool = False,
    partitioned: bool = True,
    observation: Observation | None = None,
) -> DataFrame:
    """existing ∪ new lines, chronologically sorted, stably tied.

    Input DataFrames have a single ``line`` column. Output: a single
    ``line`` column, globally ordered by (date, source, sequence) —
    range-partitioned when ``partitioned``, else in one partition.
    ``observation`` collects, on whatever job consumes the result,
    ``total`` (lines out) and ``new`` (new lines in, counted before
    dedup, as the reference's summary counts them).
    """
    # Tiebreak must be listing-order independent: Spark bin-packs file
    # splits by SIZE, so monotonically_increasing_id alone follows an
    # arbitrary file order for multi-file sources (.eml directories).
    # Sorting on (file, in-file position) pins equal-date lines to
    # lexicographic file order then file position (ADVICE r1).
    #
    # Preferred keys are the DETERMINISTIC hidden metadata columns
    # (`_metadata.file_path`, `_metadata.row_index`): row_index is the
    # true in-file row position even when one file spans several
    # splits, and deterministic expressions leave Catalyst free to
    # prune/eliminate (nondeterministic input_file_name/monotonic id
    # pin themselves into every downstream plan). Non-file sources
    # (createDataFrame fixtures) have no _metadata — fall back to the
    # nondeterministic pair there, where a single in-memory listing
    # makes it stable anyway.
    def _tag(df: DataFrame, rank: int) -> DataFrame:
        # The probe's analysis failure is expected for non-file
        # sources; PySpark's error path logs it Python-side
        # (pyspark/errors/exceptions/base.py, DataFrameQueryContextLogger)
        # as a scary JSON ERROR on every in-memory CLI run — mute that
        # one logger for the duration of the probe.
        #
        # MUST fetch it through PySpark's own accessor: plain
        # logging.getLogger() would CREATE and cache a stdlib Logger
        # under that name, and PySpark's captured-error path later
        # calls .exception(..., file=...) on it — a kwarg only the
        # PySparkLogger subclass accepts — turning every subsequent
        # DataFrame-context error in the process into a masking
        # TypeError (VERDICT r9 #1; pinned by
        # tests/test_pipeline.py::test_tag_probe_does_not_poison_pyspark_logger).
        from pyspark.logger import PySparkLogger

        qlog = PySparkLogger.getLogger("DataFrameQueryContextLogger")
        prev_disabled = qlog.disabled
        qlog.disabled = True
        try:
            tagged = df.select(
                "line",
                F.lit(rank).alias("source_rank"),
                F.col("_metadata.file_path").alias("src_file"),
                F.col("_metadata.row_index").alias("seq"),
            )
            tagged.schema  # force analysis; non-file sources raise here
            return tagged
        except Exception:
            return df.select(
                "line",
                F.lit(rank).alias("source_rank"),
                F.input_file_name().alias("src_file"),
                F.monotonically_increasing_id().alias("seq"),
            )
        finally:
            qlog.disabled = prev_disabled

    tagged_new = _tag(new, 1)
    if existing is not None:
        merged = _tag(existing, 0).unionByName(tagged_new)
    else:
        merged = tagged_new

    if not partitioned:  # one partition from here on: no Exchange below
        merged = merged.coalesce(1)

    # New input lines each output row stands for: its source_rank, or
    # after dedup the group's sum of them. Counted on the sorted frame,
    # not on the new frame: under ``partitioned`` the range-partition
    # sampling job re-runs everything below the sort's Exchange, and an
    # observation there would count each new line twice.
    new_rows = F.col("source_rank")
    if dedup:
        # The `index.js:110` comment's stated intent: exact dedup.
        # Keep the earliest (existing-first) occurrence of each line.
        merged = (
            merged.groupBy("line")
            .agg(
                F.min(F.struct("source_rank", "src_file", "seq")).alias("first_seen"),
                F.sum("source_rank").alias("new_rows"),
            )
            .select(
                "line",
                F.col("first_seen.source_rank").alias("source_rank"),
                F.col("first_seen.src_file").alias("src_file"),
                F.col("first_seen.seq").alias("seq"),
                "new_rows",
            )
        )
        new_rows = F.col("new_rows")

    date_str = F.split(F.col("line"), " ").getItem(1)
    date_key = date_key_from_ddmmyyyy(date_str)
    date_key = require(
        date_key.isNotNull(),
        date_key,
        F.concat(F.lit("Invalid date in line: "), F.col("line")),
    )
    keyed = merged.withColumn("_date_key", date_key)
    keys = ["_date_key", "source_rank", "src_file", "seq"]
    ordered = keyed.orderBy(*keys) if partitioned else keyed.sortWithinPartitions(*keys)
    if observation is not None:
        ordered = ordered.observe(
            observation, F.count(F.lit(1)).alias("total"), F.sum(new_rows).alias("new")
        )
    return ordered.select("line")


def violations(existing: DataFrame | None, new: DataFrame) -> DataFrame:
    """Collect-violations debug mode (SURVEY.md §4.3): instead of
    aborting on the first malformed line like ``merge_sorted``, return
    EVERY line whose embedded date fails to parse, tagged with its
    source — run this when a fail-fast job died to see the full
    damage in one pass instead of fix-rerun-fix."""
    frames = [new.select("line", F.lit("new").alias("source"))]
    if existing is not None:
        frames.insert(0, existing.select("line", F.lit("existing").alias("source")))
    merged = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
    date_str = F.split(F.col("line"), " ").getItem(1)
    return merged.filter(date_key_from_ddmmyyyy(date_str).isNull()).select(
        "source", "line"
    )


def report(total: int, new_count: int | None, lines: Iterable[str], sample: int = 5) -> dict:
    """Count + first-N sample, the reference's console summary
    (the reference's `index.js:124-130`). Pure: the counts come from
    the write job's observed metrics and ``lines`` from the written
    file(s), so the summary launches no Spark job."""
    return {"total": total, "new": new_count, "sample": list(islice(lines, sample))}
