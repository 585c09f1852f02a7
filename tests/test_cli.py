"""CLI end-to-end: the reference's `node index.js <type> <file>`
contract (S1 in SURVEY.md §2) through the Python entry point."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from cgtcalc_data_transformer_spark import fixtures

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, "-m", "cgtcalc_data_transformer_spark", *args],
        cwd=cwd,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=300,
    )


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    (d / "ii.csv").write_text(fixtures.II_CSV)
    eml = d / "eml"
    eml.mkdir()
    for i, email in enumerate(fixtures.BULLIONVAULT_EMAILS):
        (eml / f"advice{i}.eml").write_text(email)
    return d


def test_cli_ii_then_merge_bullionvault(workdir):
    out = workdir / "data.txt"
    r1 = _run(["ii", str(workdir / "ii.csv"), "--output", str(out)], cwd=workdir)
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert sorted(out.read_text().splitlines()) == sorted(fixtures.EXPECTED_II)

    r2 = _run(["bullionvault", str(workdir / "eml"), "--output", str(out)], cwd=workdir)
    assert r2.returncode == 0, r2.stderr[-2000:]
    lines = out.read_text().splitlines()
    assert sorted(lines) == sorted(fixtures.EXPECTED_II + fixtures.EXPECTED_BULLIONVAULT)
    # chronological order across merged sources
    assert lines[0].split(" ")[1] == "04/01/2024"
    assert "Total transactions" in r2.stdout


def test_cli_rejects_missing_path(workdir):
    r = _run(["ii", str(workdir / "nope.csv")], cwd=workdir)
    assert r.returncode == 1
    assert "does not exist" in r.stderr


def test_cli_rejects_empty_eml_dir(workdir, tmp_path):
    r = _run(["bullionvault", str(tmp_path)], cwd=workdir)
    assert r.returncode == 1
    assert "no .eml files" in r.stderr


# Golden bytes and stdout for the two invocations the cli_cold benchmark
# times, on the fixtures plus one duplicated email, so ``--dedup`` has a
# line to drop while "Parsed" still counts it (the summary counts new
# lines before dedup).
II_STDOUT = """\
Parsed 2 new transaction(s) from ii.csv
Total transactions in data.txt: 2
First lines:
  BUY 04/01/2024 B123456 10 5.25 0
  SELL 09/01/2024 B654321 2.5 1000.5 0
"""
II_BYTES = b"BUY 04/01/2024 B123456 10 5.25 0\nSELL 09/01/2024 B654321 2.5 1000.5 0\n"
BV_DEDUP_STDOUT = """\
Parsed 3 new transaction(s) from eml
Total transactions in data.txt: 4
First lines:
  BUY 04/01/2024 B123456 10 5.25 0
  SELL 09/01/2024 B654321 2.5 1000.5 0
  BUY 03/06/2024 GOLD 0.05 45000 11.25
  SELL 14/07/2024 SILVER 2.5 640 8
"""
BV_DEDUP_BYTES = II_BYTES + (
    b"BUY 03/06/2024 GOLD 0.05 45000 11.25\nSELL 14/07/2024 SILVER 2.5 640 8\n"
)


def _leftovers(d):
    return [p for p in os.listdir(d) if p.startswith(".cgtcalc_out_")]


def test_cli_bytes_ii_then_bullionvault_dedup(workdir, tmp_path):
    (tmp_path / "ii.csv").write_text(fixtures.II_CSV)
    eml = tmp_path / "eml"
    eml.mkdir()
    for i, email in enumerate(fixtures.BULLIONVAULT_EMAILS + fixtures.BULLIONVAULT_EMAILS[:1]):
        (eml / f"advice{i}.eml").write_text(email)
    out = tmp_path / "data.txt"

    r1 = _run(["ii", "ii.csv", "--output", "data.txt"], cwd=tmp_path)
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert r1.stdout == II_STDOUT
    assert out.read_bytes() == II_BYTES

    r2 = _run(["bullionvault", "eml", "--output", "data.txt", "--dedup"], cwd=tmp_path)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert r2.stdout == BV_DEDUP_STDOUT
    assert out.read_bytes() == BV_DEDUP_BYTES
    assert _leftovers(tmp_path) == []


def test_cli_bad_settlement_date_fails_fast_and_keeps_output(tmp_path):
    (tmp_path / "bad.csv").write_text(fixtures.II_CSV.replace(",04/01/2024,", ",31/02/2024,"))
    out = tmp_path / "data.txt"
    out.write_bytes(BV_DEDUP_BYTES)
    r = _run(["ii", "bad.csv", "--output", "data.txt"], cwd=tmp_path)
    assert r.returncode == 1
    assert "Missing settlement date value: 31/02/2024" in r.stderr
    assert r.stdout == ""
    assert out.read_bytes() == BV_DEDUP_BYTES
    assert _leftovers(tmp_path) == []


def test_cli_partitioned_rerun_into_same_dir(tmp_path):
    """A second ``--partitioned`` run reads the part files it replaces:
    it must write beside them and swap, not overwrite them mid-read."""
    (tmp_path / "ii.csv").write_text(fixtures.II_CSV)
    for run in (1, 2):
        r = _run(["ii", "ii.csv", "--output", "out", "--partitioned"], cwd=tmp_path)
        assert r.returncode == 0, r.stderr[-2000:]
        assert f"Total transactions in out: {2 * run}\n" in r.stdout
    parts = sorted((tmp_path / "out").glob("part-*"))
    lines = [ln for p in parts for ln in p.read_text().splitlines()]
    assert lines == [fixtures.EXPECTED_II[0]] * 2 + [fixtures.EXPECTED_II[1]] * 2
    assert _leftovers(tmp_path) == []


def test_partitioned_failed_swap_restores_previous_output(spark, tmp_path, monkeypatch):
    """If moving the new part files into place fails, the previous
    output is put back before the temp dir is removed."""
    from cgtcalc_data_transformer_spark import cli

    (tmp_path / "ii.csv").write_text(fixtures.II_CSV)
    out = tmp_path / "out"
    cli.run_pipeline(spark, "ii", str(tmp_path / "ii.csv"), output=str(out), partitioned=True)
    before = {p.name: p.read_bytes() for p in out.glob("part-*")}
    assert before

    rename = os.rename

    def failing_swap(src, dst):
        if os.fspath(dst) == str(out) and os.path.basename(src) == "out":
            raise OSError("swap failed")
        rename(src, dst)

    monkeypatch.setattr(cli.os, "rename", failing_swap)
    with pytest.raises(OSError, match="swap failed"):
        cli.run_pipeline(spark, "ii", str(tmp_path / "ii.csv"), output=str(out), partitioned=True)
    monkeypatch.undo()
    assert {p.name: p.read_bytes() for p in out.glob("part-*")} == before
    assert _leftovers(tmp_path) == []


def test_run_pipeline_is_one_job_without_exchange(spark, tmp_path):
    """Single-file mode: parse, merge, dedup, sort and write are one
    Spark job whose executed plan has no Exchange (no shuffle, no
    range-sampling job), and the summary launches no further job."""
    from cgtcalc_data_transformer_spark.cli import run_pipeline

    (tmp_path / "ii.csv").write_text(fixtures.II_CSV)
    out = tmp_path / "data.txt"
    out.write_bytes(BV_DEDUP_BYTES)
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    seen = {e.executionId() for e in executions()}
    sc.setJobGroup("one-job-guard", "one-job-guard")
    try:
        rep = run_pipeline(spark, "ii", str(tmp_path / "ii.csv"), output=str(out), dedup=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("one-job-guard")) == 1
    # merge_sorted's _metadata probe may record a failed analysis, which
    # has no physical plan; exactly one execution has a plan: the write
    plans = [e.physicalPlanDescription() for e in executions() if e.executionId() not in seen]
    plans = [p for p in plans if p]
    assert len(plans) == 1
    assert "InsertIntoHadoopFsRelationCommand" in plans[0]
    assert "Exchange" not in plans[0]
    assert rep == {"total": 4, "new": 2, "sample": BV_DEDUP_BYTES.decode().splitlines()}
    assert out.read_bytes() == BV_DEDUP_BYTES
