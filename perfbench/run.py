"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 4 --trace 0

Closed loop, one client: every operation is issued after the previous one
returns, from one Spark driver process at a time, with
``SPARK_GRAFT_CPUS`` set to the machine's core count. Each run

1. generates the workload's inputs from ``--seed`` (``perfbench/gen.py``)
   under ``.bench_build/perfbench`` in the checkout, outside any timing;
2. starts a fresh ``main`` worker (``perfbench/worker.py``; a scheduled job
   pays interpreter start, package import, session start and a first job on
   every invocation) that runs a cold pass, warm passes until ``--seconds``
   have passed (at least one), and the output checks;
3. with ``--trace 0``, starts ``SETUPS - 1`` more fresh workers that only
   set up, so ``setup_s`` is a median, and reports the end-to-end metrics;
   with ``--trace 1`` the ``main`` worker is traced instead (job groups,
   event log, layer wrappers; one warm pass, then the same pass untraced
   for ``trace.overhead_s``) and the per-layer metrics are reported;
4. checks outputs and prints one JSON line of run facts, then the result as
   the last line.

Exit status 0 with the result line; any other status, and no result line,
when the checkout holds no package to benchmark or a worker fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "snowflake_to_bq_pipeline_spark"

sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import stats  # noqa: E402
from worker import PIPELINE_STEPS  # noqa: E402

WORKLOADS = ("llm_curation", "corpus_daily")
#: Fresh processes started together per untraced run; ``setup_s`` is the
#: median of their set-up times. Started together, not one after another,
#: so that three samples fit the run's time budget: every sample is taken
#: with the same two other invocations starting beside it.
SETUPS = 3
#: Hard limit for one worker process.
WORKER_TIMEOUT_S = 150
DRIVER_MEM = "1g"
RSS_SAMPLE_S = 0.25

MB = 1024 * 1024


def _env(work: str, trace_log: str | None) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update({
        # Spark's Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
        "PYTHONHASHSEED": "0",
    })
    if trace_log is not None:
        from tracing import event_log_submit_args

        os.makedirs(trace_log, exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = event_log_submit_args(trace_log)
    return env


#: Executor-side Python workers; the driver's memory excludes them.
PYTHON_WORKER_MARKS = (b"pyspark.daemon", b"pyspark.worker")


def _driver_rss(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and its descendants (the driver's
    Python and JVM), leaving out Spark's Python worker processes."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if any(m in f.read() for m in PYTHON_WORKER_MARKS):
                    continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(pid, ()))
    return total


class Worker:
    """One fresh ``worker.py`` process in its own process group."""

    def __init__(self, args, role: str, name: str, work: str, input_dir: str, trace: bool):
        self.role, self.wdir = role, os.path.join(work, name)
        os.makedirs(self.wdir, exist_ok=True)
        self.out = os.path.join(self.wdir, "result.json")
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--input", input_dir, "--work", self.wdir,
            "--role", role, "--seconds", str(args.seconds), "--trace", str(int(trace)),
            "--out", self.out,
        ]
        env = _env(self.wdir, os.path.join(self.wdir, "eventlog") if trace else None)
        self.log = open(os.path.join(self.wdir, "worker.log"), "w")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(
            cmd, cwd=self.wdir, env=env, stdin=subprocess.PIPE, stdout=self.log,
            stderr=subprocess.STDOUT, start_new_session=True, text=True,
        )
        self.peak = 0

    def go(self) -> None:
        """Let a ``main`` worker that has set up start its passes."""
        self.proc.stdin.write("go\n")
        self.proc.stdin.close()

    def stop(self) -> None:
        """Kill what is left of the process group and wait until every
        member has exited."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.proc.stdin.close()
        self.log.close()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)

    def result(self) -> dict:
        if self.proc.returncode != 0 or not os.path.exists(self.out):
            with open(os.path.join(self.wdir, "worker.log")) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"{self.role} worker failed ({self.proc.returncode}):\n{tail}")
        with open(self.out) as f:
            res = json.load(f)
        res["setup_s"] = res["ready"] - self.t0
        res["peak_rss_mb"] = self.peak / MB
        return res


def run_workers(args, work: str, input_dir: str) -> tuple[dict, list[float]]:
    """Start the ``main`` worker and, untraced, ``SETUPS - 1`` set-up-only
    workers at the same moment; ``main`` starts its passes once the others
    have exited. Return main's result and every worker's ``setup_s``."""
    main = Worker(args, "main", "main", work, input_dir, trace=bool(args.trace))
    setups = [] if args.trace else [
        Worker(args, "setup", f"setup{i}", work, input_dir, trace=False)
        for i in range(1, SETUPS)
    ]
    waiting = True
    next_sample = 0.0
    try:
        while main.proc.poll() is None:
            if time.monotonic() >= next_sample:
                # a /proc walk costs CPU the workers share, so not too often
                main.peak = max(main.peak, _driver_rss(main.proc.pid))
                next_sample = time.monotonic() + RSS_SAMPLE_S
            if waiting and all(w.proc.poll() is not None for w in setups):
                for w in setups:
                    w.stop()
                main.go()
                waiting = False
            if time.monotonic() - main.t0 > WORKER_TIMEOUT_S:
                raise TimeoutError(f"main worker exceeded {WORKER_TIMEOUT_S}s")
            time.sleep(0.05)
    finally:
        for w in [main, *setups]:
            w.stop()
    res = main.result()
    return res, [res["setup_s"]] + [w.result()["setup_s"] for w in setups]


#: End-to-end metrics of an untraced run, with units.
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
}


def end_to_end(main: dict, setups: list[float]) -> dict:
    passes = main["passes"]
    values = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in passes[1:]),
    }
    return {k: (values[k], unit) for k, unit in END_TO_END.items()}


#: Per-layer metrics of a traced run, with units.
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.handle_reuse_ratio": "ratio",
    "registry.construct_s": "s",
    "registry.construct_jobs": "count",
    "registry.memo_builds": "count",
    "registry.memo_build_s": "s",
    "registry.memo_reuse_ratio": "ratio",
    "registry.memo_persisted_mb": "MB",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.slot_idle_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.python_stages": "count",
    "exec.python_mb": "MB",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.mb_written": "MB",
    "sinks.state_bytes_per_input_byte": "ratio",
    **{
        f"pipelines.{step}_{kind}": unit
        for step in PIPELINE_STEPS
        for kind, unit in (("s", "s"), ("jobs", "count"))
    },
    "trace.overhead_s": "s",
}


def per_layer(traced: dict, manifest: dict) -> dict:
    """Per-layer metrics over the traced worker's cold and warm pass."""
    t = traced["trace"]
    passes = traced["passes"]
    values = {k: v for k, v in t.items() if k in PER_LAYER}
    values["session.start_s"] = traced["session_start_s"]
    post = traced.get("post", {})
    for step, jobs in t["pipeline_jobs"].items():
        values[f"pipelines.{step}_jobs"] = jobs
        values[f"pipelines.{step}_s"] = sum(
            rec.get("steps", {}).get(step, 0.0) for rec in [*passes, post]
        )
    values["sinks.files_written"] = post.get("files", 0)
    input_bytes = sum(v["bytes"] for k, v in manifest.items() if k.startswith("day_"))
    values["sinks.state_bytes_per_input_byte"] = (
        post["state_bytes"] / input_bytes if post and input_bytes else 0.0
    )
    values["trace.overhead_s"] = passes[1]["wall_s"] - traced["untraced"]["wall_s"]
    return {k: (values[k], unit) for k, unit in PER_LAYER.items()}


def check(workload: str, input_dir: str, res: dict) -> tuple[int, list]:
    """Fold the worker's failures and output checks into (attempted, failures)."""
    recs = res["passes"] + [res[k] for k in ("untraced", "post") if k in res]
    attempted = sum(r["attempted"] for r in recs)
    failures = [f for r in recs for f in r["failures"]]
    if workload == "corpus_daily":
        return attempted, failures
    from checks import oracle_hashes

    attempted += res["check_attempted"]
    failures += res["check_failures"]
    for name, want in oracle_hashes(input_dir, res["hashes"]).items():
        attempted += 1
        if res["hashes"][name] != want:
            failures.append({"op": f"oracle:{name}", "error": f"{res['hashes'][name]} != {want}"})
    return attempted, failures


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE} package next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    input_dir = os.path.join(work, "input")
    try:
        manifest = gen.generate(args.workload, args.seed, input_dir)
        main_res, setups = run_workers(args, work, input_dir)
        if args.trace:
            metrics = per_layer(main_res, manifest)
            shutil.copy(
                os.path.join(work, "main", "spans.json"),
                os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"),
            )
        else:
            metrics = end_to_end(main_res, setups)
        attempted, failures = check(args.workload, input_dir, main_res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"FAILED {f['op']}: {f['error']}", file=sys.stderr)
    # per-operation latency over the warm passes: one registry query
    # (llm_curation) or one daily increment (corpus_daily)
    op_s = [op["s"] for p in main_res["passes"][1:] for op in p["ops"]]
    tail_pct, tail_s = stats.tail(op_s)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
        "mem_available_mb": stats.mem_available_mb(), "inputs": manifest,
        "setup_samples_s": setups, "warm_passes": len(main_res["passes"]) - 1,
        "op_samples": len(op_s), "op_p50_s": statistics.median(op_s),
        "op_tail_pct": tail_pct, "op_tail_s": tail_s,
        "peak_rss_mb": main_res["peak_rss_mb"],
    }))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
