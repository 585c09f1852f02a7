#!/usr/bin/env python3
"""Dump the plans of every Spark job the CLI pipeline runs.

Usage:
    python tools/dump_cli_plans.py --label after
    python tools/dump_cli_plans.py --label before --src <checkout of the old code>

Replays the two CLI invocations the ``cli_cold`` benchmark times, on the
package fixtures: ``ii`` into an empty ``data.txt``, then
``bullionvault --dedup`` into the same file. Each step runs
``cli.run_pipeline`` under its own job group in one session. For each
step the tool writes ``<out>/<step>_<label>.txt``: the number of Spark
jobs the step ran, then every SQL execution of the step with the final
``explain("formatted")`` plan Spark recorded for it (after any adaptive
re-planning; a failed analysis is recorded with no plan). Temporary
paths are replaced by ``<work>``.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STEPS = [
    ("ii", dict(source_type="ii", path="ii.csv")),
    ("bullionvault_dedup", dict(source_type="bullionvault", path="eml", dedup=True)),
]


def _executions(spark) -> list:
    """SQL executions in Spark's status store, oldest first."""
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [seq.apply(i) for i in range(seq.size())]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--label", required=True, help="file suffix, e.g. before / after")
    ap.add_argument("--src", default=REPO, help="checkout whose package is traced")
    ap.add_argument("--out", default=os.path.join(REPO, "plans", "cli"))
    args = ap.parse_args()

    sys.path.insert(0, os.path.abspath(args.src))
    from cgtcalc_data_transformer_spark import cli, fixtures
    from cgtcalc_data_transformer_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="cli_plans_")
    with open(os.path.join(work, "ii.csv"), "w") as f:
        f.write(fixtures.II_CSV)
    os.mkdir(os.path.join(work, "eml"))
    for i, email in enumerate(fixtures.BULLIONVAULT_EMAILS):
        with open(os.path.join(work, "eml", f"advice{i}.eml"), "w") as f:
            f.write(email)

    spark = get_spark(app_name="dump-cli-plans")
    sc = spark.sparkContext
    os.makedirs(args.out, exist_ok=True)
    try:
        for step, kwargs in STEPS:
            seen = {e.executionId() for e in _executions(spark)}
            sc.setJobGroup(f"cli-{step}", f"cgtcalc {kwargs['source_type']}")
            kwargs = {**kwargs, "path": os.path.join(work, kwargs["path"])}
            cli.run_pipeline(spark, output=os.path.join(work, "data.txt"), **kwargs)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = len(sc.statusTracker().getJobIdsForGroup(f"cli-{step}"))
            runs = [e for e in _executions(spark) if e.executionId() not in seen]
            lines = [f"# {step}: {jobs} Spark job(s), {len(runs)} SQL execution(s)", ""]
            for n, e in enumerate(runs, 1):
                # a failed analysis (merge_sorted's _metadata probe) is
                # recorded too, with no plan
                plan = e.physicalPlanDescription() or "(analysis failed; no plan)"
                lines += [f"## execution {n}: {e.description()}", "", plan, ""]
            text = "\n".join(lines).replace(os.path.realpath(work), "<work>").replace(work, "<work>")
            text = re.sub(r"\.cgtcalc_out_\w+|cgtcalc_out_\w+", "<tmp>", text)
            path = os.path.join(args.out, f"{step}_{args.label}.txt")
            with open(path, "w") as f:
                f.write(text.rstrip() + "\n")
            print(f"{path}: {jobs} job(s), {len(runs)} execution(s)")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
