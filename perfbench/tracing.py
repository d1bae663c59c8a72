"""Traced-run instrumentation, kept entirely in the benchmark's own files.

- :class:`Tracer` wraps the package's layer entry points (``catalog``,
  registry memo helpers, ``sinks.writers``) at every place the name is
  looked up, records one span per call (name, layer, start, end, parent,
  op id) in memory, and tags every operation's Spark jobs with a job group.
- :func:`parse_event_log` and :func:`exec_metrics` read the uncompressed
  Spark event log of the traced process into per-job-group task, shuffle,
  spill and Python-worker totals.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "snowflake_to_bq_pipeline_spark"


def event_log_submit_args(log_dir: str) -> str:
    """Spark confs that turn the event log on for a traced process only."""
    return (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.dir=file://{log_dir} pyspark-shell"
    )


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None
    jobs: int = 0
    grew: int = 0
    reused: bool = False


@dataclass
class Tracer:
    """Span recorder and job-group tagger for one traced process."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    op: str | None = None
    _stack: list[int] = field(default_factory=list)
    _handles: dict[int, object] = field(default_factory=dict)
    _cache_sizes: object = None
    _patched: list = field(default_factory=list)
    memo_wrapped: bool = False

    # -- operations and job groups ------------------------------------
    def group(self, group: str) -> None:
        """Tag every Spark job from here on with ``group``."""
        self.op = group
        self.spark.sparkContext.setJobGroup(group, group)

    def jobs_in(self, group: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record a span, with the jobs its op's group started meanwhile."""
        group = self.op
        jobs0 = self.jobs_in(group) if group else 0
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, layer, time.monotonic(), 0.0, parent, group)
        self._stack.append(len(self.spans))
        self.spans.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if group:
                sp.jobs = self.jobs_in(group) - jobs0

    # -- wrappers -------------------------------------------------------
    def _wrap(self, fn, layer: str, seen_handle=False, count_cache=False):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = tracer._cache_sizes() if count_cache else 0
            with tracer.span(fn.__name__, layer) as sp:
                result = fn(*args, **kwargs)
            if count_cache:
                sp.grew = tracer._cache_sizes() - before
            if seen_handle:
                sp.reused = id(result) in tracer._handles
                tracer._handles[id(result)] = result  # keep alive so ids stay unique
            return result

        return wrapper

    def install(self) -> None:
        """Patch each layer entry point wherever its name is bound."""
        from snowflake_to_bq_pipeline_spark import catalog
        from snowflake_to_bq_pipeline_spark.sinks import writers

        self._patch(catalog.load_table, self._wrap(catalog.load_table, "catalog", seen_handle=True))
        for name in (
            "write_snapshot", "write_partitioned", "merge_into_path", "write_bucketed",
            "merge_into_delta", "write_clustered", "compact_path", "expire_snapshots",
            "write_training_shards",
        ):
            fn = getattr(writers, name)
            self._patch(fn, self._wrap(fn, "sinks"))
        registry = sys.modules.get(f"{PACKAGE}.registry")
        if registry is not None:
            self.memo_wrapped = True
            caches = registry._all_caches()
            self._cache_sizes = lambda: sum(len(c) for c in caches.values())
            for name in registry._MEMO_HELPERS:
                fn = _find(name)
                self._patch(fn, self._wrap(fn, "memo", count_cache=True))

    def _patch(self, original, replacement) -> None:
        self._patched += [
            (mod, attr, original) for mod, attr in patch_everywhere(original, replacement)
        ]

    def uninstall(self) -> None:
        """Restore every patched name and stop tagging jobs."""
        for mod, attr, original in self._patched:
            setattr(mod, attr, original)
        self._patched.clear()
        self.op = None
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    # -- summaries ------------------------------------------------------
    def layer_totals(self, skip_prefix: str) -> dict:
        """Layer totals over the spans of ops not named ``skip_prefix...``."""
        spans = [s for s in self.spans if not (s.op or "").startswith(skip_prefix)]
        catalog = [s for s in spans if s.layer == "catalog"]
        memo = [s for s in spans if s.layer == "memo"]
        outer_builds = [
            s for s in memo
            if s.grew > 0 and (s.parent is None or self.spans[s.parent].layer != "memo")
        ]
        sinks = [s for s in spans if s.layer == "sinks"]
        return {
            "catalog.load_table_calls": len(catalog),
            "catalog.load_table_s": sum(s.end - s.start for s in catalog),
            "catalog.handle_reuse_ratio": (
                sum(s.reused for s in catalog) / len(catalog) if catalog else 0.0
            ),
            "registry.memo_builds": sum(s.grew for s in outer_builds),
            "registry.memo_build_s": sum(s.end - s.start for s in outer_builds),
            "registry.memo_reuse_ratio": (
                sum(1 for s in memo if s.grew == 0 and s.jobs == 0) / len(memo) if memo else 0.0
            ),
            "sinks.write_s": sum(
                s.end - s.start for s in sinks
                if s.parent is None or self.spans[s.parent].layer != "sinks"
            ),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def _find(name: str):
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(f"{PACKAGE}.registry.section_") and name in vars(mod):
            return vars(mod)[name]
    raise LookupError(name)


def patch_everywhere(original, replacement) -> list:
    """Rebind every module-level name of the package that refers to
    ``original`` (``from x import f`` copies the binding, so patching only
    the defining module would miss those call sites); return the
    ``(module, name)`` pairs rebound."""
    done = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)
                done.append((mod, attr))
    return done


# -- event log --------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def find_event_log(log_dir: str) -> str:
    """The one uncompressed v2 event log file under ``log_dir``."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if len(files) != 1:
        raise FileNotFoundError(f"expected one event log under {log_dir}, found {files}")
    return files[0]


def parse_event_log(lines) -> dict:
    """Fold JSON event-log lines into ``{group: totals}``.

    Jobs map to groups through ``spark.jobGroup.id``; stages map to the
    first job that lists them; tasks map to stages."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "python_stages": 0,
            "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
            "python_b": 0, "output_b": 0,
        })

    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            g(group)["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            tot = g(stage_group.get(info["Stage ID"]))
            tot["stages"] += 1
            py = 0
            is_py = False
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in (PY_SENT, PY_RETURNED):
                    is_py = True
                    py += int(acc.get("Value") or 0)
            tot["python_stages"] += is_py
            tot["python_b"] += py
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            tot = g(stage_group.get(ev["Stage ID"]))
            tot["tasks"] += 1
            tot["task_run_s"] += m["Executor Run Time"] / 1e3
            tot["task_cpu_s"] += m["Executor CPU Time"] / 1e9
            tot["gc_s"] += m["JVM GC Time"] / 1e3
            tot["shuffle_write_b"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rd = m["Shuffle Read Metrics"]
            tot["shuffle_read_b"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
            tot["spill_b"] += m["Disk Bytes Spilled"]
            tot["output_b"] += m["Output Metrics"]["Bytes Written"]
    return groups


def exec_metrics(groups: dict, keep) -> dict:
    """Sum the per-group totals of the groups ``keep(group)`` accepts."""
    tot: dict[str, float] = {}
    for name, vals in groups.items():
        if name is not None and keep(name):
            for k, v in vals.items():
                tot[k] = tot.get(k, 0) + v
    mb = 1 / (1024 * 1024)
    return {
        "exec.jobs": tot.get("jobs", 0),
        "exec.stages": tot.get("stages", 0),
        "exec.tasks": tot.get("tasks", 0),
        "exec.task_run_s": tot.get("task_run_s", 0.0),
        "exec.task_cpu_s": tot.get("task_cpu_s", 0.0),
        "exec.gc_s": tot.get("gc_s", 0.0),
        "exec.shuffle_write_mb": tot.get("shuffle_write_b", 0) * mb,
        "exec.shuffle_read_mb": tot.get("shuffle_read_b", 0) * mb,
        "exec.spill_mb": tot.get("spill_b", 0) * mb,
        "exec.python_stages": tot.get("python_stages", 0),
        "exec.python_mb": tot.get("python_b", 0) * mb,
        "sinks.mb_written": tot.get("output_b", 0) * mb,
    }
