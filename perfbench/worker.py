"""One fresh benchmark process (a scheduled job's invocation).

It imports the package, starts the session, runs a first trivial job and
reports the instant it finished (``setup_s`` is measured from the parent's
spawn to that instant). Depending on ``--role`` it then stops (``setup``),
or runs a cold pass, then warm passes until ``--seconds`` have elapsed
(``main``), and finally the output checks, outside every timed pass.

Run by ``perfbench/run.py``; not meant to be started by hand.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import types

# llm_curation's registry queries, fixed so every seed runs the same code
# paths: five section E/F queries over four standing-index
# families: shingle/Jaccard pairs and their connected components, token
# counts, the NB quality model behind a section F streaming twin
# (mapInPandas, so Python workers), and the BPE merge table (a driver-built
# createDataFrame table). The second query reuses the first's memos; three
# are DuckDB-checked, two rows-only. More queries would not fit the run's
# time budget: the cold pass alone takes 17-28 s on 4 shared cores.
# No operation of a workload may fail, so two queries that fail on some
# seeds are left out: kmeans_doc_clusters (k-means seeds its centroids from
# vec_id < k, none of which a sampled table may hold: numpy AxisError) and
# quality_classifier_scores (one log_odds differs from DuckDB's in the 6th
# decimal on seed 4).
LLM_CURATION_QUERIES = (
    "near_dup_rate_by_source",
    "dedup_clusters",
    "vocab_top_k",
    "streaming_quality_score_twin",
    "bpe_merge_table",
)


#: Corpus pipeline steps, each timed and job-counted on its own.
PIPELINE_STEPS = ("train", "increment", "rerun", "compact", "export", "validate", "rebuild")

#: Warm passes per run, at least; untraced, more follow until --seconds.
MIN_WARM_PASSES = 1

#: Job-group prefix of the query output checks, which no metric counts.
CHECK = "check:"


class Clock:
    """Times operations; in a traced process also tags each one's Spark
    jobs with a job group and records a span."""

    def __init__(self, tracer=None):
        self.tracer = tracer

    @contextlib.contextmanager
    def op(self, group: str, name: str, layer: str):
        timing = types.SimpleNamespace(s=0.0)
        span = contextlib.nullcontext()
        if self.tracer is not None:
            self.tracer.group(group)
            span = self.tracer.span(name, layer)
        with span:
            t0 = time.monotonic()
            try:
                yield timing
            finally:
                timing.s = time.monotonic() - t0


# -- query workloads ---------------------------------------------------------


def query_pass(spark, names, input_dir, clock: Clock, label: str) -> dict:
    from snowflake_to_bq_pipeline_spark.registry import QUERIES

    ops, failures = [], []
    t0 = time.monotonic()
    for name in names:
        try:
            with clock.op(f"{label}:{name}:c", name, "registry") as c:
                df = QUERIES[name](spark, input_dir)
            with clock.op(f"{label}:{name}:x", name, "exec") as x:
                df.write.format("noop").mode("overwrite").save()
            ops.append({"name": name, "s": c.s + x.s, "construct_s": c.s, "exec_s": x.s})
        except Exception as e:  # one failing query must not hide the others
            failures.append({"op": f"{label}:{name}", "error": repr(e)[:500]})
    return {
        "label": label,
        "wall_s": time.monotonic() - t0,
        "ops": ops,
        "failures": failures,
        "attempted": len(names),
    }


def query_hashes(spark, names, input_dir, clock: Clock) -> tuple[dict, list, int]:
    """Collect every query once and hash it; collect each rows-only query
    (no DuckDB oracle) a second time, which must hash the same."""
    from checks import normalized_hash
    from snowflake_to_bq_pipeline_spark.registry import ORACLES, QUERIES

    out, failures, attempted = {}, [], 0
    for name in names:
        for rep in range(1 if name in ORACLES else 2):
            attempted += 1
            try:
                with clock.op(f"{CHECK}{name}", name, "check"):
                    df = QUERIES[name](spark, input_dir)
                    rows = [tuple(r) for r in df.collect()]
                h = normalized_hash(rows, list(df.columns))
            except Exception as e:
                failures.append({"op": f"check:{name}", "error": repr(e)[:500]})
                break
            if rep and h != out[name]:
                failures.append({"op": f"check:{name}", "error": f"hash {h} != {out[name]}"})
            out[name] = h
    return out, failures, attempted


# -- corpus_daily --------------------------------------------------------------


def _state_snapshot(spark, state_dir: str):
    corpus = spark.read.parquet(f"{state_dir}/corpus").select(
        "doc_id", "source", "split", "shard_id", "log_odds"
    )
    seen = spark.read.parquet(f"{state_dir}/seen").select("doc_id")
    return (
        sorted(tuple(r) for r in corpus.collect()),
        sorted(r[0] for r in seen.collect()),
    )


class CorpusRun:
    """corpus_daily on one standing state dir.

    The cold pass trains the quality model, runs every generated day as a
    daily increment and validates the state. Each warm pass re-runs the
    oldest day (the idempotent delete+insert path, on the same inputs) and
    validates again. After the timed passes :meth:`post_checks` checks the
    state is unchanged, then compacts, exports and rebuilds on the union.
    """

    def __init__(self, spark, input_dir: str, work_dir: str, clock: Clock):
        import gen

        self.spark, self.input_dir, self.clock = spark, input_dir, clock
        self.state = os.path.join(work_dir, "state")
        self.export = os.path.join(work_dir, "export")
        self.days = [f"day_{d:02d}" for d in range(gen.DAYS)]
        self.day_stats: list[dict] = []
        self.model = None
        self.snapshot = None

    def _table(self, name):
        from snowflake_to_bq_pipeline_spark.catalog import load_table

        return load_table(self.spark, self.input_dir, name)

    def _step(self, rec: dict, group: str, name: str, fn):
        rec["attempted"] += 1
        with self.clock.op(f"{group}:{name}", name, "pipelines") as t:
            result = fn()
        rec["steps"][name] = rec["steps"].get(name, 0.0) + t.s
        return result, t.s

    @staticmethod
    def _check(rec: dict, name: str, ok: bool, detail: str = "") -> None:
        rec["attempted"] += 1
        if not ok:
            rec["failures"].append({"op": f"check:{name}", "error": detail[:500]})

    def _increment(self, rec, label, step, day):
        from snowflake_to_bq_pipeline_spark import pipelines

        stats, s = self._step(rec, label, step, lambda: pipelines.run_daily_increment(
            self.spark, self.state, self._table(day), day, self.model
        ))
        rec["ops"].append({"name": day, "s": s})
        return stats

    def one_pass(self, label: str) -> dict:
        import gen
        from snowflake_to_bq_pipeline_spark import pipelines
        from snowflake_to_bq_pipeline_spark.operators import curation

        rec = {"label": label, "ops": [], "steps": {}, "failures": [], "attempted": 0}
        try:
            if self.model is None:
                self.model, _ = self._step(rec, label, "train", lambda: curation.train_nbq_model(
                    self._table("base"), (gen.CURATED_SOURCE,)
                ))
                for day in self.days:
                    self.day_stats.append(self._increment(rec, label, "increment", day))
            else:
                stats = self._increment(rec, label, "rerun", self.days[0])
                self._check(rec, "rerun_stats", stats == self.day_stats[0],
                            f"{stats} vs {self.day_stats[0]}")
            report, _ = self._step(rec, label, "validate", lambda: pipelines.validate_corpus_state(
                self.spark, self.state
            ))
            self._check(rec, "validate", not any(report.values()), json.dumps(report))
            if self.snapshot is None:
                self.snapshot = _state_snapshot(self.spark, self.state)
        except Exception as e:
            rec["failures"].append({"op": f"{label}:pipeline", "error": repr(e)[:500]})
        rec["wall_s"] = sum(rec["steps"].values())
        return rec

    def post_checks(self) -> dict:
        """The warm re-runs left the state as the cold pass wrote it; then
        compact, export (rows must equal the accepted docs) and rebuild on
        the union of the days (must equal the state's (doc_id, split))."""
        from snowflake_to_bq_pipeline_spark import pipelines

        rec = {"steps": {}, "failures": [], "attempted": 0}
        try:
            self._check(rec, "rerun_unchanged",
                        _state_snapshot(self.spark, self.state) == self.snapshot,
                        "re-running the oldest day changed the state")
            self._step(rec, "post", "compact", lambda: pipelines.compact_corpus(
                self.spark, self.state
            ))
            exported, _ = self._step(rec, "post", "export", lambda: pipelines.export_corpus(
                self.spark, self.state, self.export
            ))
            accepted = sum(s["appended"] for s in self.day_stats)
            self._check(rec, "accepted_nonzero", accepted > 0, "no document accepted")
            self._check(rec, "export_rows", exported["docs"] == accepted,
                        f"{exported} vs {accepted} accepted")

            def rebuild():
                union = self._table(self.days[0])
                for day in self.days[1:]:
                    union = union.unionByName(self._table(day))
                return pipelines.rebuild_corpus(self.spark, union, self.model).select(
                    "doc_id", "split"
                ).collect()

            rebuilt, _ = self._step(rec, "post", "rebuild", rebuild)
            state_ids = sorted((r[0], r[2]) for r in self.snapshot[0])
            self._check(rec, "increments_equal_rebuild", sorted(map(tuple, rebuilt)) == state_ids,
                        f"{len(rebuilt)} rebuilt vs {len(state_ids)} in state")
        except Exception as e:
            rec["failures"].append({"op": "post:corpus", "error": repr(e)[:500]})
        files = _files(self.state, self.export)
        rec["state_bytes"] = sum(os.path.getsize(f) for f in files)
        rec["files"] = sum(f.endswith(".parquet") for f in files)
        return rec


def _files(*roots: str) -> list[str]:
    return [os.path.join(r, f) for root in roots for r, _d, fs in os.walk(root) for f in fs]


# -- main ----------------------------------------------------------------------


def run_passes(spark, args) -> dict:
    """Cold pass, warm passes, output checks; traced, one warm pass and the
    same pass again untraced."""
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
    clock = Clock(tracer)
    if args.workload == "corpus_daily":
        corpus = CorpusRun(spark, args.input, args.work, clock)
        one_pass = corpus.one_pass
    else:
        names = LLM_CURATION_QUERIES
        one_pass = lambda label: query_pass(spark, names, args.input, clock, label)  # noqa: E731

    out = {"passes": [one_pass("cold")]}
    passes = out["passes"]
    deadline = time.monotonic() + args.seconds
    # traced: exactly one warm pass, so the per-layer counts repeat
    while len(passes) <= MIN_WARM_PASSES or (tracer is None and time.monotonic() < deadline):
        passes.append(one_pass(f"warm{len(passes)}"))
    if tracer is not None:
        tracer.uninstall()
        clock.tracer = None
        out["untraced"] = one_pass("untraced")
        tracer.install()
        clock.tracer = tracer
    if args.workload == "corpus_daily":
        out["post"] = corpus.post_checks()
    else:
        out["hashes"], out["check_failures"], out["check_attempted"] = query_hashes(
            spark, names, args.input, clock
        )
    if tracer is not None:
        out["trace"] = trace_summary(spark, tracer, args.work)
    return out


def trace_summary(spark, tracer, work_dir) -> dict:
    """Span-derived layer totals, written out with the spans themselves."""
    out = tracer.layer_totals(CHECK)
    timed = [s for s in tracer.spans if not s.op.startswith(CHECK)]
    out["registry.construct_s"] = sum(s.end - s.start for s in timed if s.layer == "registry")
    out["exec_wall_s"] = sum(s.end - s.start for s in timed if s.layer in ("exec", "pipelines"))
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    out["registry.memo_persisted_mb"] = sum(
        info.memSize() + info.diskSize() for info in storage
    ) / (1024 * 1024) if tracer.memo_wrapped else 0.0
    tracer.dump(os.path.join(work_dir, "spans.json"))
    return out


def event_log_metrics(log_dir: str, exec_wall_s: float) -> dict:
    """Task-level metrics of the timed operations, from the event log that
    ``spark.stop()`` has flushed."""
    from tracing import exec_metrics, find_event_log, parse_event_log

    with open(find_event_log(log_dir)) as f:
        groups = parse_event_log(f)
    out = exec_metrics(groups, lambda g: not g.startswith(CHECK))
    out["registry.construct_jobs"] = exec_metrics(groups, lambda g: g.endswith(":c"))["exec.jobs"]
    actions = exec_metrics(groups, lambda g: not g.startswith(CHECK) and not g.endswith(":c"))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    out["exec.slot_idle_s"] = exec_wall_s * cores - actions["exec.task_run_s"]
    out["pipeline_jobs"] = {
        step: exec_metrics(groups, lambda g, s=step: g.endswith(f":{s}"))["exec.jobs"]
        for step in PIPELINE_STEPS
    }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--role", choices=("setup", "main"), required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from snowflake_to_bq_pipeline_spark.session import get_spark

    if args.workload == "corpus_daily":
        from snowflake_to_bq_pipeline_spark import pipelines  # noqa: F401
    else:
        from snowflake_to_bq_pipeline_spark import registry  # noqa: F401
    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_start_s = time.monotonic() - t0
    spark.range(1).collect()
    result = {"ready": time.monotonic(), "session_start_s": session_start_s, "passes": []}
    if args.role == "main":
        sys.stdin.readline()  # run.py says go once the set-up-only workers have exited
        result.update(run_passes(spark, args))
    spark.stop()
    if args.trace and args.role == "main":
        result["trace"].update(event_log_metrics(
            os.path.join(args.work, "eventlog"), result["trace"].pop("exec_wall_s")
        ))
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
