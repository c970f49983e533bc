"""Tests of the benchmark itself: the result record schema, the
event-log reader (on a three-part rolling-log fixture) and the seeded
input derivation. They start no Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

import eventlog
import run
import seeddata
import tracing

HERE = Path(__file__).resolve().parent
FIXTURE = HERE / "fixtures" / "eventlog_v2_local-1"

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s")]
MODULES = [
    "plans.gem", "operators.kernels", "operators.dedup", "operators.similarity",
    "operators.graph", "operators.multimodal", "operators.textops", "operators.mp4",
    "sources.io", "sources.warc", "data.country_codes",
]
PER_LAYER = [
    ("session.start_s", "s"), ("session.warm_s", "s"), ("session.peak_rss_mb", "MB"),
    ("construct.s", "s"), ("construct.driver_s", "s"), ("construct.py4j_cmds", "count"),
    ("eager.jobs", "count"), ("eager.tasks", "count"), ("eager.s", "s"),
    ("stages.count", "count"), ("stages.tasks", "count"), ("stages.run_s", "s"),
    ("stages.cpu_s", "s"), ("stages.gc_s", "s"), ("stages.busy_frac", "fraction"),
    ("stages.shuffle_write_mb", "MB"), ("stages.shuffle_read_mb", "MB"),
    ("stages.spill_mb", "MB"), ("stages.failed_tasks", "count"),
    ("arrow.to_python_mb", "MB"), ("arrow.from_python_mb", "MB"),
    ("arrow.worker_init_s", "s"), ("arrow.worker_run_s", "s"),
    ("sink.s", "s"), ("sink.jobs", "count"), ("sink.bytes_mb", "MB"), ("sink.rows", "count"),
    ("jobs.unattributed", "count"), ("trace.wall_s", "s"), ("trace.overhead_s", "s"),
] + [(f"span.{m}.{k}", u) for m in MODULES for k, u in (("self_s", "s"), ("calls", "count"))]
# everything but the session and overhead figures comes from one traced pass
PER_PASS = [n for n, _ in PER_LAYER if not n.startswith("session.") and n != "trace.overhead_s"]


def test_metric_names_and_units_are_pinned():
    assert list(run.END_TO_END.items()) == END_TO_END
    assert list(run.PER_LAYER.items()) == PER_LAYER


def test_benchmark_json_matches_the_benchmark():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        name: w.why for name, w in run.WORKLOADS.items() if w.gated
    }
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER


@pytest.mark.parametrize("trace", [False, True])
def test_result_record_schema(trace):
    result = {
        "workload": "gem_total",
        "passes": 1,
        "attempted": 3,
        "failed": 0,
        "oracle_mismatch": 0,
        "end_to_end": {name: 1.5 for name, _ in END_TO_END},
        "per_layer": {name: 2 for name, _ in PER_LAYER},
    }
    rec = run.record(result, trace)
    assert list(rec) == ["correct", "attempted", "failed", "metrics"]
    assert rec["correct"] is True and rec["attempted"] == 3 and rec["failed"] == 0
    expected = PER_LAYER if trace else END_TO_END
    assert [(k, v["unit"]) for k, v in rec["metrics"].items()] == expected
    assert run.record(dict(result, oracle_mismatch=1), trace)["correct"] is False
    assert run.record(dict(result, failed=1), trace)["correct"] is False
    summary = "\n".join(run.summary(result, trace))
    assert "failed_frac" in summary and "oracle_mismatch" in summary


def test_log_parts_are_read_in_numeric_order():
    names = [p.name for p in eventlog.log_parts(FIXTURE)]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]
    assert eventlog.app_log_dir(FIXTURE.parent) == FIXTURE


def test_read_log():
    log = eventlog.read_log(FIXTURE)
    assert set(log.jobs) == {0, 1}
    assert log.jobs[0].group == "pb0.a.construct"
    assert log.jobs[1].group is None  # kept, not dropped
    assert (log.jobs[0].submit_s, log.jobs[0].end_s) == (1.0, 3.0)
    assert (log.jobs[1].submit_s, log.jobs[1].end_s) == (1.5, 2.5)
    s0, s1 = log.stages[0], log.stages[1]
    assert (s0.group, s0.attempts, s0.tasks, s0.run_ms, s0.cpu_ns) == (
        "pb0.a.construct", 1, 1, 100, 50_000_000,
    )
    assert (s1.tasks, s1.failed_tasks, s1.run_ms, s1.spill_b, s1.output_b) == (
        2, 1, 320, 4_000_000, 3_000_000,
    )
    assert s1.shuffle_read_b == 500_000
    assert s1.py == {"py_sent_b": 2_000_000, "py_run_ms": 300}


def test_union_of_intervals_not_sum():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)]) == 3 + 1
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)], lo=1, hi=5.5) == 2 + 0.5
    assert eventlog.union_s([]) == 0


def test_pass_layers_attribute_by_group_then_window():
    log = eventlog.read_log(FIXTURE)
    phases = [
        run.Phase("a", "construct", "pb0.a.construct", 0.9, 3.1, 40),
        run.Phase("a", "sink", "pb0.a.sink", 3.2, 3.5, 5),
    ]
    tracer = tracing.Tracer({}, ())
    m = run.pass_layers(log, tracer, phases, wall=2.6, ncpu=2, rows=12)
    assert m["eager.jobs"] == 2 and m["jobs.unattributed"] == 1
    assert m["eager.s"] == pytest.approx(2.0)  # jobs 1.0-3.0 and 1.5-2.5 overlap
    assert m["construct.s"] == pytest.approx(2.2)
    assert m["construct.driver_s"] == pytest.approx(0.2)
    assert m["construct.py4j_cmds"] == 40
    assert (m["stages.count"], m["stages.tasks"], m["stages.failed_tasks"]) == (2, 3, 1)
    assert m["stages.run_s"] == pytest.approx(0.42)
    assert m["stages.busy_frac"] == pytest.approx(0.42 / (2 * 2.6))
    assert m["stages.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["stages.spill_mb"] == pytest.approx(4.0)
    assert m["arrow.to_python_mb"] == pytest.approx(2.0)
    assert m["arrow.worker_run_s"] == pytest.approx(0.3)
    assert (m["sink.jobs"], m["sink.bytes_mb"], m["sink.rows"]) == (0, 0, 12)
    assert m["sink.s"] == pytest.approx(0.3)
    assert sorted(m) == sorted(PER_PASS)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        tracing.Span("phase", None, 0.0, 10.0, None, "main"),
        tracing.Span("f", "plans.gem", 1.0, 5.0, 0, "t1"),
        tracing.Span("g", "plans.gem", 3.0, 7.0, 0, "t2"),
        tracing.Span("h", "operators.kernels", 4.0, 4.5, 2, "t2"),
    ]
    selfs = tracing.self_times(spans, 0.0, 10.0)
    assert selfs[0] == pytest.approx(10.0 - 6.0)
    assert selfs[2] == pytest.approx(4.0 - 0.5)
    assert tracing.enclosing_span(spans, 4.2, range(4)) == 3


def _tables():
    return {
        "customer": pa.table({"c_custkey": pa.array([1, 2, 3, 4], pa.int64()), "v": [10, 20, 30, 40]}),
        "orders": pa.table({
            "o_orderkey": pa.array([7, 8, 9], pa.int64()),
            "o_custkey": pa.array([2, 2, 4], pa.int64()),
        }),
        "supplier": pa.table({"s_suppkey": pa.array([5, 6], pa.int64())}),
        "documents": pa.table({"doc_id": pa.array([0, 1, 2], pa.int64())}),
        "embeddings": pa.table({"vec_id": pa.array([3, 4], pa.int64())}),
    }


def test_seeded_derivation_is_a_join_consistent_key_permutation():
    base = _tables()
    out = seeddata.shuffle_rows(seeddata.permute_keys(base, np.random.default_rng(7)), np.random.default_rng(8))
    for table, col, _ in seeddata.KEY_DOMAINS:
        assert sorted(out[table][col].to_pylist()) == sorted(base[table][col].to_pylist())
    # every order still points at the customer row it pointed at before
    before = dict(zip(base["customer"]["c_custkey"].to_pylist(), base["customer"]["v"].to_pylist()))
    after = dict(zip(out["customer"]["c_custkey"].to_pylist(), out["customer"]["v"].to_pylist()))
    refs_before = sorted(before[k] for k in base["orders"]["o_custkey"].to_pylist())
    refs_after = sorted(after[k] for k in out["orders"]["o_custkey"].to_pylist())
    assert refs_before == refs_after


def test_seeded_derivation_is_deterministic(tmp_path):
    a = seeddata.derive(3, tmp_path / "a")
    b = seeddata.derive(3, tmp_path / "b")
    for name in seeddata.TABLES:
        assert (a / f"{name}.parquet").read_bytes() == (b / f"{name}.parquet").read_bytes()
    zero = seeddata.derive(0, tmp_path / "a")
    assert (zero / "orders.parquet").read_bytes() == (seeddata.BASE_DIR / "orders.parquet").read_bytes()


def test_foreign_key_outside_its_domain_is_refused():
    base = _tables()
    base["orders"] = base["orders"].set_column(1, "o_custkey", pa.array([2, 99, 4], pa.int64()))
    with pytest.raises(ValueError):
        seeddata.permute_keys(base, np.random.default_rng(1))
