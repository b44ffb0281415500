"""Self-test of the benchmark harness, at tiny input sizes.

    python3 -m pytest perfbench/tests -q

- every workload runs through the harness, untraced and traced, and
  prints every metric BENCHMARK.json names, with its unit;
- a corrupted output trips the workload's check;
- every Spark job of a harness job runs inside an engine call, so the
  untraced path adds zero jobs over calling the pipeline directly;
- in a directory holding only BENCHMARK.json and the benchmark, the
  harness exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run, trace, workloads  # noqa: E402
from perfbench.tests.tiny_run import TINY  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOAD_NAMES = [w["name"] for w in BENCH["workloads"]]


def _run_tiny(workload: str, traced: int) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "tests" / "tiny_run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(traced)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def test_benchmark_json_matches_harness():
    assert sorted(WORKLOAD_NAMES) == sorted(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == run.per_layer_metrics()
    assert len(run.per_layer_metrics()) <= 128


@pytest.mark.parametrize("traced", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_every_metric_printed_with_unit(workload, traced):
    code, lines = _run_tiny(workload, traced)
    assert code == 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= (3 if traced else 1)
    wanted = BENCH["per_layer"] if traced else BENCH["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(got[m["name"]]["value"], float)
    assert any(line.startswith("# host ") for line in lines)
    if traced:
        jobs, untraced = got["run.jobs"]["value"], got["run.jobs_untraced"]["value"]
        assert jobs > 0 and abs(jobs - untraced) <= 0.05 * jobs
        assert got["run.span_coverage"]["value"] >= 0.9
        # the output check after the traced job is not traced
        untouched = {"align_small": "operators.dedup", "web_kg": "operators.evalx"}
        assert got[f"{untouched[workload]}.self_s"]["value"] == 0.0
    else:
        for name in ("setup_s", "job_s", "peak_mem_mb", "hits1_csls", "triple_f1"):
            assert got[name]["value"] > 0


def test_empty_checkout_exits_nonzero(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        BENCH["command"] + ["--workload", WORKLOAD_NAMES[0], "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_generator_is_seeded():
    from largeea_spark.sources.fixtures import page_rows

    pages, _, _ = page_rows(50, seed=5)
    a = workloads.near_dup_copies(pages, 10, seed=5)
    assert a == workloads.near_dup_copies(pages, 10, seed=5)
    assert [c["source"] for c in a] != [
        c["source"] for c in workloads.near_dup_copies(pages, 10, seed=6)]


# ---- in-process: checks and job counts --------------------------------------

@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    from largeea_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest", master="local[2]",
                  shuffle_partitions=2,
                  extra_conf={"spark.ui.retainedJobs": "100000",
                              "spark.ui.retainedStages": "100000"})
    yield s
    s.stop()


def _ran(spark, tmp_path, name):
    wl = TINY[name]
    inputs = wl.setup(spark, 7)
    out = wl.job(spark, inputs, str(tmp_path / name))
    return wl, inputs, out


def test_dropped_survivor_trips_check(spark, tmp_path):
    from pyspark.sql import functions as F

    wl, inputs, out = _ran(spark, tmp_path, "web_kg")
    assert wl.check(inputs, out)["triple_f1"] >= workloads.TRIPLE_PR_FLOOR
    bad = dict(out, survivors=out["survivors"].where(F.col("doc_id") != 0))
    with pytest.raises(workloads.CheckFailed, match="survived dedup"):
        wl.check(inputs, bad)


def test_removed_test_link_trips_check(spark, tmp_path):
    from pyspark.sql import functions as F

    wl, inputs, out = _ran(spark, tmp_path, "align_small")
    wl.check(inputs, out)
    e1 = (inputs["pair"].links.where(F.col("split") == "test")
          .agg(F.min("e1")).first()[0])
    bad = dict(out, fused=out["fused"].where(F.col("src") != e1))
    with pytest.raises(workloads.CheckFailed, match="no candidates"):
        wl.check(inputs, bad)


@pytest.mark.parametrize("name", WORKLOAD_NAMES)
def test_harness_adds_no_jobs(spark, tmp_path, name):
    """Every Spark job of a harness job runs inside an engine call: none
    is launched by the harness's own code around the entry points, so
    the untraced path runs exactly the jobs of calling them directly.
    (Totals of two identical calls can differ by a job or two: adaptive
    query execution re-plans on whichever stage finishes first.)"""
    wl = TINY[name]
    inputs = wl.setup(spark, 7)
    sc = spark.sparkContext
    tracer = trace.Tracer()
    tracer.install()
    try:
        j0 = trace.max_job_id(sc)
        tracer.active = True
        root = tracer.open("job", "perfbench")
        wl.job(spark, inputs, str(tmp_path / name))
        tracer.close(root)
        tracer.active = False
        groups, _ = trace.read_jobs(sc, after_job=j0)
    finally:
        tracer.uninstall()
    assert groups and None not in groups.values()
    assert str(root.sid) not in groups.values()
    layers = {tracer.spans[int(g)].layer for g in groups.values()}
    assert "sources.stage" in layers
    # uninstall restored every binding
    from largeea_spark.plans import pipeline
    from largeea_spark.sources.stage import StageStore

    assert not hasattr(pipeline.align_kg_pair, "__perfbench_original__")
    assert not hasattr(StageStore.checkpoint, "__perfbench_original__")
