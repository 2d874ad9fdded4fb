"""Tests of the benchmark itself, at its tiny input size.

    python3 -m pytest perfbench -q -p no:cacheprovider

from the root of a checkout (about two minutes: one Spark session in
process, two more in subprocesses).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from perfbench import metrics, run
from perfbench.probes import stop_spark
from perfbench.workloads import WORKLOADS, EdgeStream, TranscriptIngest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _cli(args, cwd):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_spec_matches_the_metrics_the_code_reports():
    assert set(SPEC) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")


def test_checkout_without_the_program_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _cli(["--workload", "edge_stream", "--seed", "1", "--seconds", "1", "--trace", "0"],
             tmp_path)
    assert p.returncode != 0
    assert "{" not in p.stdout


def test_cli_prints_every_end_to_end_metric_with_its_unit():
    p = _cli(["--workload", "transcript_ingest", "--seed", "3", "--seconds", "1",
              "--trace", "0", "--scale", "tiny"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == metrics.END_TO_END
    for name, unit in metrics.END_TO_END.items():
        assert out["metrics"][name]["value"] > 0
        assert any(re.fullmatch(rf"{re.escape(name)} \S+ {re.escape(unit)}", ln) for ln in lines)
    assert any(ln.startswith("error_rate 0.0 ratio") for ln in lines)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    with pytest.MonkeyPatch.context() as mp:
        for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
            mp.setenv(var, os.environ.get(var, ""))  # restored on exit
        mp.setattr("tempfile.tempdir", None)
        session = run.start_spark(work, traced=True)
        yield session, work
        stop_spark(session)


def _perturbed(cls, monkeypatch, op, change):
    """Make ``cls.run_pass`` hand ``op``'s output through ``change``."""
    real = cls.run_pass

    def run_pass(self, tracer, run_id):
        res = real(self, tracer, run_id)
        res.outputs[op] = change(res.outputs[op])
        return res

    monkeypatch.setattr(cls, run_pass.__name__, run_pass)


def _traced(spark, workload, tmp_path):
    session, work = spark
    trace = tmp_path / "trace.json"
    out = run.measure(session, 1.0, workload, 5, 0.0, True, "tiny", work, str(trace))
    assert {k: v["unit"] for k, v in out["metrics"].items()} == metrics.PER_LAYER
    spans = json.loads(trace.read_text())["spans"]
    assert {"sources", "pass"} <= {s["name"] for s in spans}
    assert all(s["end"] >= s["start"] and "self_s" in s for s in spans)
    return out


def test_one_rank_off_by_1e3_fails_its_check(spark, tmp_path, monkeypatch):
    def bump(ranks):
        first = ranks.agg(F.min("id")).collect()[0][0]
        bumped = F.when(F.col("id") == first, F.col("rank") + 1e-3).otherwise(F.col("rank"))
        return ranks.withColumn("rank", bumped)

    _perturbed(TranscriptIngest, monkeypatch, "pagerank", bump)
    out = _traced(spark, "transcript_ingest", tmp_path)
    assert out["attempted"] == len(TranscriptIngest.ops)
    assert out["failed"] == 1 and not out["correct"]
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["pagerank.iterations"] == 10 and m["lpa.iterations"] == 5
    assert m["extract.edges_out"] > 0 and m["pr_lpa_edges_per_s"] > 0


def test_one_stream_label_changed_fails_its_check(spark, tmp_path, monkeypatch):
    def change(labels):
        last = labels.agg(F.max("id")).collect()[0][0]
        return labels.withColumn(
            "component",
            F.when(F.col("id") == last, F.col("id")).otherwise(F.col("component")),
        )

    _perturbed(EdgeStream, monkeypatch, "stream_cc", change)
    out = _traced(spark, "edge_stream", tmp_path)
    assert out["attempted"] == len(EdgeStream.ops)
    assert out["failed"] == 1 and not out["correct"]
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["stream_cc.vs_full_ratio"] > 1
    assert m["stream_cc.jobs"] > m["cc.jobs"] > 0
