"""Traced-run instrumentation, applied from outside the engine.

The tracer wraps public functions of the engine's modules (the layers),
patching every module-level binding of each function, so the import
sites (``from ..operators.canonical import canonical_ids``) see the
wrapper too. Each call opens a span; while a span is the innermost open
one, its id is the Spark job group, so every job launched inside it is
attributed to it. After the traced job the listener bus is drained and
the status store is read once: job -> group -> span, stage -> job,
``executorRunTime`` and shuffle bytes per stage.

Attribution is exclusive: a job belongs to the innermost open span.
Layers build most DataFrames lazily, so their heavy stages run where the
plan is persisted -- inside ``StageStore.checkpoint``, which gets one
span per phase (``sources.stage.<phase>``). Module counters therefore
hold the work a module runs eagerly (counts, collects, eager
checkpoints, convergence checks); the phase counters hold the rest.
"""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass, field

# layer -> functions wrapped in that module ("*" = every public function
# the module defines). Only driver-side functions: nothing here runs
# inside a Python worker.
LAYERS: dict[str, tuple[str, tuple[str, ...]]] = {
    "session": ("largeea_spark.session", ("get_spark",)),
    "sources.kg": ("largeea_spark.sources.kg", ("*",)),
    "plans.pipeline": ("largeea_spark.plans.pipeline",
                       ("align_kg_pair", "construct_kg_from_pages")),
    "plans.name_channel": ("largeea_spark.plans.name_channel", ("*",)),
    "plans.structure_channel": ("largeea_spark.plans.structure_channel", ("*",)),
    "plans.extract": ("largeea_spark.plans.extract",
                      ("extract_text", "verify_byte_identical", "emit_triples",
                       "emit_triples_verified", "triples_for_parity")),
    "operators.partition_kg": ("largeea_spark.operators.partition_kg",
                               ("seed_aware_partition",)),
    "operators.trainer": ("largeea_spark.operators.trainer", ("train_batches",)),
    "operators.knn": ("largeea_spark.operators.knn",
                      ("knn_topk", "knn_topk_grouped", "ivf_topk")),
    "operators.simops": ("largeea_spark.operators.simops",
                         ("fuse", "csls_rescore", "margin_mutual_pairs")),
    "operators.evalx": ("largeea_spark.operators.evalx", ("hits_and_mrr",)),
    "operators.dedup": ("largeea_spark.operators.dedup", ("*",)),
    "operators.blocking": ("largeea_spark.operators.blocking", ("*",)),
    "operators.canonical": ("largeea_spark.operators.canonical", ("*",)),
    "operators.ids": ("largeea_spark.operators.ids", ("assign_dense_ids",)),
}
STAGE_LAYER = "sources.stage"
LOG_METRICS_SPAN = "sources.stage.log_metrics"


@dataclass
class Span:
    sid: int
    name: str          # layer, or sources.stage.<phase> / .log_metrics
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    children_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.children_s


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    task_ms: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0

    def add(self, other: "JobStats") -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


@dataclass
class Tracer:
    """Keeps spans in memory; ``install`` patches, ``uninstall`` restores.
    While ``active`` is false every wrapper calls straight through."""

    active: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _patches: list[tuple[object, str, object]] = field(default_factory=list)

    # ---- spans -----------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:                        # before the session exists
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(str(span.sid), span.name, False)

    def open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, layer,
                    parent.sid if parent else None, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        if self._stack:
            self._stack[-1].children_s += span.wall_s
        self._set_group(self._stack[-1] if self._stack else None)

    def reset(self) -> None:
        if self._stack:
            raise RuntimeError("reset with open spans")
        self.spans.clear()

    def _wrap(self, fn, name_of):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            span = self.open(*name_of(args, kwargs))
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        traced.__perfbench_original__ = fn
        return traced

    # ---- patching --------------------------------------------------------
    def _patch_everywhere(self, original, wrapper) -> None:
        """Replace ``original`` in every loaded engine module's globals."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("largeea_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patches.append((mod, attr, original))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        import importlib

        mods = {m: importlib.import_module(m) for m, _ in LAYERS.values()}
        for layer, (mod_name, names) in LAYERS.items():
            mod = mods[mod_name]
            if names == ("*",):
                names = tuple(
                    n for n, v in vars(mod).items()
                    if not n.startswith("_") and callable(v)
                    and getattr(v, "__module__", None) == mod_name
                    and not isinstance(v, type)
                )
            for n in names:
                fn = getattr(mod, n)
                self._patch_everywhere(
                    fn, self._wrap(fn, lambda a, k, _l=layer: (_l, _l)))

        from largeea_spark.sources.stage import StageStore

        def phase_name(args, kwargs):
            phase = args[1] if len(args) > 1 else kwargs["name"]
            return f"{STAGE_LAYER}.{phase}", STAGE_LAYER

        for meth, name_of in (
            ("checkpoint", phase_name),
            ("log_metrics", lambda a, k: (LOG_METRICS_SPAN, STAGE_LAYER)),
        ):
            orig = StageStore.__dict__[meth]
            self._patches.append((StageStore, meth, orig))
            setattr(StageStore, meth, self._wrap(orig, name_of))

    def uninstall(self) -> None:
        while self._patches:
            obj, attr, original = self._patches.pop()
            setattr(obj, attr, original)


# ---- Spark status store ----------------------------------------------------

def drain(sc) -> None:
    """Wait until every queued listener event is applied to the status
    store, so counters read after an action include that action."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def max_job_id(sc) -> int:
    drain(sc)
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return max([jobs.apply(i).jobId() for i in range(jobs.size())] + [-1])


def read_jobs(sc, after_job: int) -> tuple[dict[int, str | None],
                                          dict[int, JobStats]]:
    """Jobs with id > ``after_job``: {job_id: group}, and per job the
    stats of the stages it executed (a stage listed by several jobs
    belongs to the lowest; skipped stages count nowhere)."""
    drain(sc)
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    groups: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = j.jobId()
        if jid <= after_job:
            continue
        g = j.jobGroup()
        groups[jid] = g.get() if g.isDefined() else None
        sids = j.stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            stage_job[sid] = min(jid, stage_job.get(sid, jid))
    stats = {jid: JobStats(jobs=1) for jid in groups}
    jvm = sc._jvm
    empty = jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(jvm.double, 0)
    for sid, jid in stage_job.items():
        attempts = store.stageData(sid, False, empty, False, no_q)
        for a in range(attempts.size()):
            sd = attempts.apply(a)
            if sd.status().toString() == "SKIPPED":
                continue
            s = stats[jid]
            s.stages += 1
            s.task_ms += sd.executorRunTime()
            s.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            s.failed_tasks += sd.numFailedTasks()
            s.shuffle_write_bytes += sd.shuffleWriteBytes()
    return groups, stats



# ---- attribution -------------------------------------------------------------

def own_stats(spans: list[Span], groups: dict[int, str | None],
              job_stats: dict[int, JobStats]) -> dict[int, JobStats]:
    """Per span id, the stats of the jobs whose group is that span (the
    jobs launched while it was the innermost open span)."""
    ids = {str(s.sid) for s in spans}
    own: dict[int, JobStats] = {}
    for jid, g in groups.items():
        if g in ids:
            own.setdefault(int(g), JobStats()).add(job_stats[jid])
    return own


def subtree(spans: list[Span], sid: int) -> list[Span]:
    """The span ``sid`` and every span opened inside it."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [spans[sid]]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, ()))
    return out


def total_stats(spans: list[Span], sid: int,
                own: dict[int, JobStats]) -> JobStats:
    """Stats of every job launched inside span ``sid``."""
    tot = JobStats()
    for s in subtree(spans, sid):
        if s.sid in own:
            tot.add(own[s.sid])
    return tot
