"""Traced CLI process: ``python3 cli_child.py <record.json> <cli args>``.

Runs the same ``cli.main`` as ``python -m cgtcalc_data_transformer_spark``
with spans around the public functions it calls, a job group on the
session, and the job count and cache state read just before the session
stops. The record is written as JSON when the process ends.
"""

from __future__ import annotations

import json
import sys
import time

from spans import Tracer, cache_state, group_jobs

GROUP = "perfbench-cli"


def main(record_path: str, argv: list[str]) -> int:
    tracer = Tracer()
    tracer.op = GROUP
    record: dict = {}

    t0 = time.perf_counter()
    from cgtcalc_data_transformer_spark import cli

    tracer.spans.append((GROUP, "session.import", t0, time.perf_counter()))

    def parse_source(*args, **kwargs):
        df = tracer.span("operators.parse_build", cli_parse_source)(*args, **kwargs)
        # run_pipeline counts the new lines for its report
        df.count = tracer.span("pipeline.report", df.count)
        return df

    def get_spark(*args, **kwargs):
        spark = tracer.span("session.start", cli_get_spark)(*args, **kwargs)
        sc = spark.sparkContext
        sc.setJobGroup(GROUP, "cli op")
        stop = spark.stop

        def stop_after_counting():
            record["jobs"] = group_jobs(sc, GROUP)
            record["cache_resident"], record["cache_bytes"] = cache_state(sc)
            record["app_id"] = sc.applicationId
            stop()

        spark.stop = stop_after_counting
        return spark

    cli_parse_source, cli_get_spark = cli.parse_source, cli.get_spark
    cli.parse_source, cli.get_spark = parse_source, get_spark
    cli.read_existing_output = tracer.span("sources.read_existing", cli.read_existing_output)
    cli.merge_sorted = tracer.span("pipeline.merge_build", cli.merge_sorted)
    cli.write_output = tracer.span("sources.write", cli.write_output)
    cli.report = tracer.span("pipeline.report", cli.report)
    try:
        return cli.main(argv)
    finally:
        record["layers"] = tracer.layer_seconds()
        with open(record_path, "w") as f:
            json.dump(record, f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2:]))
