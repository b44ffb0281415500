"""Benchmark harness for the largeea_spark engine.

    python3 perfbench/run.py --workload align_small --seed 1 --seconds 5 --trace 0

Runs one workload (see ``workloads.py``) in this process against the
engine in the checkout that holds this directory, at ``local[nproc]``:

1. set-up, ``SETUP_REPS`` times: start (or get back) the Spark session,
   generate the seeded inputs, ingest and materialise them; ``setup_s``
   is the median;
2. ``--trace 0``: run the job again and again until ``--seconds`` have
   passed (at least once), checking every output; ``job_s`` is the
   median, ``peak_mem_mb`` the peak PSS of this process and all its
   children while the jobs run;
   ``--trace 1``: one set-up, then an untraced job, a traced job and
   another untraced job; per-layer counters come from the traced one
   (``trace.py``) and ``tracing_overhead_s`` is traced minus the last
   untraced job. The spans are written to ``.perfbench_work/traces/``.

A job whose output is wrong, or that raises, counts as failed. Spark
scratch space and stage tables live under ``.perfbench_work/`` in the
checkout. The last stdout line is the result, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; lines
before it start with ``#`` (the host record among them).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3

END_TO_END = (("setup_s", "s"), ("job_s", "s"), ("peak_mem_mb", "MB"),
              ("hits1", "ratio"), ("hits1_csls", "ratio"), ("mrr_csls", "ratio"),
              ("triple_f1", "ratio"))
QUALITY = tuple(name for name, _ in END_TO_END[3:])

ALIGN_PHASES = ("sim_string", "sim_embed", "semi_seeds", "sim_structure", "sim_fused")
WEB_PHASES = ("near_dup_pairs", "dedup_survivors", "triples_surface",
              "entities", "triples", "canonical", "kg_canonical")
#: layers with the full counter set; ``session`` reports its time only
MODULES = ("sources.kg", "sources.stage", "plans.name_channel",
           "plans.structure_channel", "plans.extract", "operators.partition_kg",
           "operators.trainer", "operators.knn", "operators.simops",
           "operators.evalx", "operators.dedup", "operators.blocking",
           "operators.canonical", "operators.ids")
RUN_COUNTERS = (
    ("run.jobs", "count"), ("run.stages", "count"), ("run.tasks", "count"),
    ("run.busy", "ratio"), ("run.failed_tasks", "count"),
    ("run.jobs_untraced", "count"), ("run.span_coverage", "ratio"),
    ("sources.stage.bytes_written_mb", "MB"), ("tracing_overhead_s", "s"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    out = [("session.self_s", "s")]
    for m in MODULES:
        out += [(f"{m}.self_s", "s"), (f"{m}.jobs", "count"),
                (f"{m}.task_s", "s"), (f"{m}.shuffle_write_mb", "MB")]
    out += [("sources.stage.log_metrics.jobs", "count"),
            ("sources.stage.log_metrics.wall_s", "s")]
    for ph in ALIGN_PHASES + WEB_PHASES:
        p = f"sources.stage.{ph}"
        out += [(f"{p}.wall_s", "s"), (f"{p}.jobs", "count"),
                (f"{p}.task_s", "s"), (f"{p}.busy", "ratio")]
    return out + list(RUN_COUNTERS)


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _process_tree(root: int) -> list[int]:
    """``root`` and every live process descending from it."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


class PeakPss:
    """Samples the PSS of this process tree in a thread (``peak_mb``)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        total = 0
        for pid in _process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f
                                  if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _shutdown(spark) -> None:
    """Stop Spark and the JVM, then wait until every process started
    under this one has ended (killing what is left after 30 s)."""
    from pyspark import SparkContext

    started = _process_tree(os.getpid())[1:]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in started:
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
    while any(_alive(p) for p in started):
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _harness_env(work: Path) -> dict[str, str]:
    """Environment for Spark and its JVMs: every scratch path inside
    ``work``; cores and driver heap fixed."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(_cores()),
        # a capped heap keeps the JVM's share of peak_mem_mb from
        # following G1's run-to-run heap-growth decisions
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }


def _spark_conf(work: Path, traced: bool) -> dict[str, str]:
    conf = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if traced:
        # the status store must keep every job and stage of the run
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    return conf


def host_record(spark, conf: dict[str, str], env: dict[str, str]) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(), "cores_used": _cores(), "master": sc.master,
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(), "spark_conf": conf, "env": env,
    }


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, workload, seed: int, work: Path, traced: bool):
        self.wl, self.seed, self.work = workload, seed, work
        self.env = _harness_env(work)
        os.environ.update(self.env)
        self.conf = _spark_conf(work, traced)
        self.spark = None
        self.inputs = None
        self.attempted = 0
        self.failed = 0
        self.quality: dict = {}
        self._n_store = 0

    def setup(self, reps: int, tracer=None) -> list[float]:
        """Set up ``reps`` times; returns each set-up's seconds. The first
        starts the JVM; later ones get the live session back from
        ``get_spark`` and rebuild the inputs on it. A tracer records the
        last set-up only."""
        from largeea_spark.session import get_spark

        times = []
        for rep in range(reps):
            if tracer is not None:
                tracer.reset()
                tracer.active = rep == reps - 1
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", master=f"local[{_cores()}]",
                                   extra_conf=self.conf)
            self.inputs = self.wl.setup(self.spark, self.seed)
            times.append(time.perf_counter() - t0)
        if tracer is not None:
            tracer.active = False
        return times

    def iterate(self, after_job=None) -> tuple[float | None, str]:
        """One job, then ``after_job()``, then the output check. Returns
        (the job's seconds, or None if it failed; its stage directory)."""
        store = str(self.work / f"store{self._n_store}")
        self._n_store += 1
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            out = self.wl.job(self.spark, self.inputs, store)
            dt = time.perf_counter() - t0
            if after_job is not None:
                after_job()
            self.quality = self.wl.check(self.inputs, out)
            return dt, store
        except Exception:  # noqa: BLE001 -- a failed operation is counted
            self.failed += 1
            traceback.print_exc()
            return None, store


def run_untraced(run: Run, seconds: float) -> dict:
    setup_times = run.setup(SETUP_REPS)
    job_times = []
    with PeakPss() as mem:
        t_end = time.perf_counter() + seconds
        while True:
            dt, store = run.iterate()
            shutil.rmtree(store, ignore_errors=True)
            if dt is not None:
                job_times.append(dt)
            if time.perf_counter() >= t_end:
                break
    print(f"# job_s runs {[round(t, 3) for t in job_times]}, "
          f"setup_s runs {[round(t, 3) for t in setup_times]}")
    vals = {
        "setup_s": statistics.median(setup_times),
        "job_s": statistics.median(job_times) if job_times else 0.0,
        "peak_mem_mb": mem.peak_mb,
        **{k: float(run.quality.get(k, 0.0)) for k in QUALITY},
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def _du_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 2**20


def run_traced(run: Run, trace_file: Path) -> dict:
    from perfbench import trace

    tracer = trace.Tracer()
    tracer.install()
    try:
        run.setup(1, tracer)
        sc = run.spark.sparkContext
        run.iterate()                                 # warm-up, untraced
        tracer.active = True
        root = tracer.open("job", "perfbench")

        def stop_tracing():                           # before the check
            tracer.close(root)
            tracer.active = False

        traced_s, store = run.iterate(after_job=stop_tracing)
        if tracer.active:                             # the job raised
            stop_tracing()
        groups, job_stats = trace.read_jobs(sc, after_job=-1)
        written_mb = _du_mb(store)
        marks = [trace.max_job_id(sc)]
        untraced_s, _ = run.iterate(
            after_job=lambda: marks.append(trace.max_job_id(sc)))
    finally:
        tracer.uninstall()
    own = trace.own_stats(tracer.spans, groups, job_stats)
    vals = _layer_values(tracer.spans, own, root)
    vals.update({
        "run.jobs_untraced": marks[-1] - marks[0],
        "sources.stage.bytes_written_mb": written_mb,
        "tracing_overhead_s": (traced_s or 0.0) - (untraced_s or 0.0),
    })
    _report_trace(tracer.spans, own, root, vals, traced_s, untraced_s, trace_file)
    units = dict(per_layer_metrics())
    return {k: {"value": float(vals[k]), "unit": units[k]} for k in units}


def _layer_values(spans, own, root) -> dict[str, float]:
    """Per-layer metric values from the spans of the last set-up and of
    the traced job (rooted at ``root``)."""
    from perfbench.trace import LOG_METRICS_SPAN, JobStats, subtree, total_stats

    cores = _cores()
    vals = {name: 0.0 for name, _ in per_layer_metrics()}
    in_job = {s.sid for s in subtree(spans, root.sid)}

    def add_module(layer: str, secs: float, st: JobStats) -> None:
        vals[f"{layer}.self_s"] += secs
        if layer in MODULES:
            vals[f"{layer}.jobs"] += st.jobs
            vals[f"{layer}.task_s"] += st.task_ms / 1000
            vals[f"{layer}.shuffle_write_mb"] += st.shuffle_write_bytes / 2**20

    for s in spans:
        if s.sid not in in_job:
            # set-up: the top-level session and ingest calls, inclusive
            # of the layers they call
            if s.parent is None and s.layer in MODULES + ("session",):
                add_module(s.layer, s.wall_s, total_stats(spans, s.sid, own))
            continue
        if s.layer in MODULES:
            add_module(s.layer, s.self_s, own.get(s.sid, JobStats()))
        if s.name == LOG_METRICS_SPAN:
            vals[f"{s.name}.jobs"] += own.get(s.sid, JobStats()).jobs
            vals[f"{s.name}.wall_s"] += s.wall_s
        elif f"{s.name}.wall_s" in vals:              # a stage phase
            st = total_stats(spans, s.sid, own)
            vals[f"{s.name}.wall_s"] += s.wall_s
            vals[f"{s.name}.jobs"] += st.jobs
            vals[f"{s.name}.task_s"] += st.task_ms / 1000
    for ph in ALIGN_PHASES + WEB_PHASES:
        p = f"sources.stage.{ph}"
        if vals[f"{p}.wall_s"] > 0:
            vals[f"{p}.busy"] = vals[f"{p}.task_s"] / (vals[f"{p}.wall_s"] * cores)
    run_st = total_stats(spans, root.sid, own)
    # the entry point's own time (plans.pipeline) and the harness glue
    # are what no layer span covers
    uncovered = root.self_s + sum(s.self_s for s in spans
                                  if s.sid in in_job and s.layer == "plans.pipeline")
    vals.update({
        "run.jobs": run_st.jobs, "run.stages": run_st.stages,
        "run.tasks": run_st.tasks, "run.failed_tasks": run_st.failed_tasks,
        "run.busy": run_st.task_ms / 1000 / (root.wall_s * cores),
        "run.span_coverage": 1.0 - uncovered / root.wall_s,
    })
    return vals


def _report_trace(spans, own, root, vals, traced_s, untraced_s, path: Path) -> None:
    from perfbench.trace import JobStats, subtree

    by_layer: dict[str, float] = {}
    for s in subtree(spans, root.sid):
        if s.layer in MODULES:
            by_layer[s.layer] = by_layer.get(s.layer, 0.0) + s.self_s
    layers = sorted(by_layer.items(), key=lambda kv: -kv[1])
    print(f"# traced job_s {traced_s}, untraced {untraced_s}, "
          f"span coverage {vals['run.span_coverage']:.3f}, jobs {vals['run.jobs']:.0f} "
          f"(untraced {vals['run.jobs_untraced']:.0f})")
    if layers:
        print(f"# largest self time: {layers[0][0]} {layers[0][1]:.3f} s")
    for name, sec in layers:
        print(f"#   {name:<32} self {sec:8.3f} s")
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({
        "traced_job_s": traced_s, "untraced_job_s": untraced_s,
        "spans": [{
            "id": s.sid, "name": s.name, "layer": s.layer, "parent": s.parent,
            "start_s": s.start - root.start, "wall_s": s.wall_s, "self_s": s.self_s,
            **vars(own.get(s.sid, JobStats())),
        } for s in spans],
    }, indent=1))
    print(f"# spans written to {path.relative_to(ROOT)}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="largeea_spark benchmark harness")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "largeea_spark" / "__init__.py").is_file():
        print(f"engine package largeea_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = WORK / f"{args.workload}-{os.getpid()}"
    run = Run(WORKLOADS[args.workload], args.seed, work, bool(args.trace))
    try:
        if args.trace:
            metrics = run_traced(
                run, WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
        else:
            metrics = run_untraced(run, args.seconds)
        print("# host " + json.dumps(host_record(run.spark, run.conf, run.env),
                                     sort_keys=True))
    finally:
        _shutdown(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
