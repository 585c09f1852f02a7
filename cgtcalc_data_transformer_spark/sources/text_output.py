"""Canonical text-output source/sink (the ``data.txt`` contract).

The reference re-reads its whole output file on every run, merges,
re-sorts and rewrites it (`/root/reference/index.js:108-122`). The
Spark shape of that contract:

- read: ``spark.read.text`` + trim + drop-blank (S7)
- write: one text file per partition of the input, with a trailing
  newline (K1). The partitioning is decided upstream: the merge
  (``operators/pipeline.py``) applies ``coalesce(1)`` right after the
  union for the byte-identical single ``data.txt``, and keeps the
  range-partitioned sort at scale.
- head: the first lines of what a write produced, read back from its
  part files rather than by re-running the query.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_existing_output(spark: SparkSession, path: str) -> DataFrame:
    """data.txt → DataFrame[line: string]; missing file → empty."""
    try:
        df = spark.read.text(path)
    except Exception:
        return spark.createDataFrame([], "line string")
    return (
        df.select(F.trim("value").alias("line"))
        .filter(F.length("line") > 0)
    )


def write_output(df: DataFrame, path: str) -> None:
    """Write DataFrame[line] as text, one part file per partition."""
    df.write.mode("overwrite").text(path)


def written_lines(path: str) -> Iterator[str]:
    """Lines of the ``write_output`` result in directory ``path``,
    lazily: its part files in part-name order, which is the sort order
    of a partitioned write."""
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            for line in f:
                yield line.rstrip("\n")
