"""Unit tests for the benchmark's event-log parser, percentile rule,
input generator and metric names (no Spark session needed)."""

import json
import os

import pyarrow.parquet as pq
import pytest

import gen
import run
import stats
from tracing import exec_metrics, parse_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _task(stage, run_ms, cpu_ns, gc_ms, sw=0, rr=0, lr=0, spill=0, out=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": rr, "Local Bytes Read": lr},
            "Disk Bytes Spilled": spill,
            "Output Metrics": {"Bytes Written": out},
        },
    }


EVENTS = [
    {"Event": "SparkListenerLogStart"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "cold:q1:x"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": "cold:q1:c"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Accumulables": [
        {"Name": "data sent to Python workers", "Value": 1000},
        {"Name": "data returned from Python workers", "Value": 500},
        {"Name": "number of output rows", "Value": 7},
    ]}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Accumulables": []}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Accumulables": []}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3, "Accumulables": []}},
    _task(0, 1500, 2_000_000_000, 100, sw=2048),
    _task(0, 500, 1_000_000_000, 0, spill=4096),
    _task(1, 250, 0, 0, rr=100, lr=924),
    _task(2, 1000, 0, 0, out=1 << 20),
    _task(3, 9000, 0, 0),
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3},  # failed task, no metrics
]


def test_event_log_groups_jobs_stages_and_tasks():
    groups = parse_event_log(json.dumps(e) for e in EVENTS)
    x, c, none = groups["cold:q1:x"], groups["cold:q1:c"], groups[None]
    # stage 1 belongs to the first job that lists it
    assert (x["jobs"], x["stages"], x["tasks"]) == (1, 2, 3)
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 1, 1)
    assert (none["jobs"], none["tasks"]) == (1, 1)
    assert x["task_run_s"] == pytest.approx(2.25)
    assert x["task_cpu_s"] == pytest.approx(3.0)
    assert x["gc_s"] == pytest.approx(0.1)
    assert (x["shuffle_write_b"], x["shuffle_read_b"], x["spill_b"]) == (2048, 1024, 4096)
    assert (x["python_stages"], x["python_b"]) == (1, 1500)
    assert c["output_b"] == 1 << 20


def test_exec_metrics_filters_groups_and_skips_untagged_jobs():
    groups = parse_event_log(json.dumps(e) for e in EVENTS)
    m = exec_metrics(groups, lambda g: g.startswith("cold:"))
    assert (m["exec.jobs"], m["exec.stages"], m["exec.tasks"]) == (2, 3, 4)
    assert m["exec.task_run_s"] == pytest.approx(3.25)
    assert m["sinks.mb_written"] == pytest.approx(1.0)
    assert exec_metrics(groups, lambda g: g.endswith(":c"))["exec.jobs"] == 1


@pytest.mark.parametrize("n,want", [
    (9, None), (10, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    values = list(range(n, 0, -1))
    p_, v = stats.tail(values)
    assert p_ == p
    if p is not None:
        assert sum(x > v for x in values) >= 10
        assert sum(x <= v for x in values) * 100 >= p * n  # nearest rank


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 5) == 0.0
    vals = [9.0, 10.0, 10.0, 10.0, 11.0, 12.0, 8.0, 10.0, 10.0, 10.0]
    assert stats.quartile_spread(vals) == pytest.approx(0.5 / 10)


def _tables(d):
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    ta, tb, tc = (_tables(str(tmp_path / x)) for x in "abc")
    assert a == b and ta.keys() == tb.keys() == tc.keys()
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert not all(ta[k].equals(tc[k]) for k in ta)


def test_llm_inputs_keep_referential_integrity(tmp_path):
    m = gen.generate("llm_curation", 3, str(tmp_path))
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pydict()
    assert set(emb["vec_id"]) <= set(docs["doc_id"])
    assert len(set(docs["doc_id"])) == m["documents"]["rows"]
    assert m["documents"]["rows"] == gen.QUERY_DOCS * (1 + gen.QUERY_NEAR_DUP_SHARE)
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_corpus_days_own_disjoint_ascending_intervals(tmp_path):
    gen.generate("corpus_daily", 3, str(tmp_path))
    base = pq.read_table(tmp_path / "base.parquet").to_pydict()
    assert base["source"].count(gen.CURATED_SOURCE) == gen.BASE_DOCS // 2
    last = max(base["doc_id"])
    for d in range(gen.DAYS):
        ids = pq.read_table(tmp_path / f"day_{d:02d}.parquet").column("doc_id").to_pylist()
        assert len(ids) == gen.DOCS_PER_DAY == len(set(ids))
        assert min(ids) > last
        last = max(ids)


def test_benchmark_json_names_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
