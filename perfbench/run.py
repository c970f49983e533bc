"""Engine benchmark: three batch workloads, end to end and by layer.

Run from the repository root:

    python3 perfbench/run.py --workload gem_total --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py              # every workload, seed 0, untraced

``BENCHMARK.json`` gates ``gem_total`` and ``multimodal_arrow``;
``neardup_text`` runs the same way but only by hand (see ``Workload``).

Each run is a closed loop on ``local[<CPUs - 1>]``: one client, the
queries of a pass back to back in this process, the next pass only
after the last one ends. A run

1. derives the seeded input tables once per seed (``seeddata.py``);
2. sets up: starts the session, then runs one pass that collects every
   query's output (this finishes lazy set-up: JVM warm-up, code
   generation, Python worker start-up) — ``setup_s`` is the time of
   both;
3. times whole passes, each query function plus its sink, inside a
   window of ``--seconds``: a pass starts only if, as long as the one
   before, it ends inside the window (at least one pass); ``wall_s`` and
   ``cpu_s`` are medians over the passes;
4. compares each collected output with the query's DuckDB oracle,
   canonicalised by ``tools/check_parity.py``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
steps with an uncompressed Spark event log, then alternates traced and
untraced passes, traced first; a traced pass tags each query's construct and sink
phase with a job group, records spans around the engine's public
module functions and counts py4j commands. It prints the per-layer
metrics: medians over the traced passes, with the traced-minus-untraced
pass time as the tracing overhead. Spans and jobs go to
``.perfbench_work/trace/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is
0 only when every query ran and matched its oracle.

Layers, the end-to-end metric each should move, and where
(``LAYERS`` below holds the same map):

    session       session.*                 setup_s          all workloads
    construction  construct.*               wall_s           neardup_text, gem_total
    eager jobs    eager.*                   wall_s           neardup_text, gem_total
    stages        stages.*                  wall_s, cpu_s    gem_total
    Python/Arrow  arrow.*                   wall_s, cpu_s    multimodal_arrow
    sink          sink.*                    wall_s           gem_total
    module spans  span.<module>.*           the layer above  as above
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

import eventlog
import procstat
import seeddata
import tracing

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = ROOT / ".perfbench_work"


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    sink: str  # "csv" (sources.io.sink_csv) or "noop"
    why: str
    # listed in BENCHMARK.json; neardup_text is not, because one run of
    # it takes about 65 s on 4 cores, more than the run budget allows
    gated: bool = True


WORKLOADS = {
    "gem_total": Workload(
        ("gem_total_consolidation_all8",),
        "csv",
        "The paper's end-to-end job: 8 fuel pipelines, union, surrogate ids, steel merge, "
        "EF fallback, written as CSV. Most stages and shuffle; the only real sink.",
    ),
    "neardup_text": Workload(
        (
            "minhash_lsh_pairs",
            "neardup_dedup",
            "shared_substring_pairs",
            "cut_duplicate_spans",
            "simhash_pairs",
            "semdedup",
            "neardup_incremental",
            "embedding_neardup_incremental",
        ),
        "noop",
        "LLM-data text dedup: many small eager jobs (materialize, checkpoint, iterative CC) "
        "and driver-side plan construction, little shuffle.",
        gated=False,
    ),
    "multimodal_arrow": Workload(
        (
            "image_dhash_hashes",
            "vad_speech_segments",
            "nfc_canonical_hashes",
            "cdc_chunks",
            "mp4_sample_offsets",
            "audio_features",
            "audio_frame_energy",
            "warc_html_extract",
            "bmp_metadata",
        ),
        "noop",
        "Narrow mapInPandas passes over image, audio, video and web data: the only workload "
        "that crosses the Python/Arrow boundary.",
    ),
}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
}

TRACED_MODULES = (
    "plans.gem",
    "operators.kernels",
    "operators.dedup",
    "operators.similarity",
    "operators.graph",
    "operators.multimodal",
    "operators.textops",
    "operators.mp4",
    "sources.io",
    "sources.warc",
    "data.country_codes",
)

LAYERS = {
    # peak memory is here, not among the end-to-end metrics: on
    # multimodal_arrow it spreads by more than a tenth from run to run
    "session": (
        {"session.start_s": "s", "session.warm_s": "s", "session.peak_rss_mb": "MB"},
        "setup_s",
        "all",
    ),
    "construction": (
        {"construct.s": "s", "construct.driver_s": "s", "construct.py4j_cmds": "count"},
        "wall_s",
        "neardup_text, gem_total",
    ),
    "eager": (
        {"eager.jobs": "count", "eager.tasks": "count", "eager.s": "s"},
        "wall_s",
        "neardup_text, gem_total",
    ),
    "stages": (
        {
            "stages.count": "count",
            "stages.tasks": "count",
            "stages.run_s": "s",
            "stages.cpu_s": "s",
            "stages.gc_s": "s",
            "stages.busy_frac": "fraction",
            "stages.shuffle_write_mb": "MB",
            "stages.shuffle_read_mb": "MB",
            "stages.spill_mb": "MB",
            "stages.failed_tasks": "count",
        },
        "wall_s, cpu_s",
        "gem_total",
    ),
    "arrow": (
        {
            "arrow.to_python_mb": "MB",
            "arrow.from_python_mb": "MB",
            "arrow.worker_init_s": "s",
            "arrow.worker_run_s": "s",
        },
        "wall_s, cpu_s",
        "multimodal_arrow",
    ),
    "sink": (
        {"sink.s": "s", "sink.jobs": "count", "sink.bytes_mb": "MB", "sink.rows": "count"},
        "wall_s",
        "gem_total",
    ),
    "trace": (
        {"jobs.unattributed": "count", "trace.wall_s": "s", "trace.overhead_s": "s"},
        "none (tracing cost)",
        "all",
    ),
    "spans": (
        {
            f"span.{m}.{k}": u
            for m in TRACED_MODULES
            for k, u in (("self_s", "s"), ("calls", "count"))
        },
        "the layer the module sits in",
        "as that layer",
    ),
}

PER_LAYER = {name: unit for metrics, _, _ in LAYERS.values() for name, unit in metrics.items()}


def cores() -> int:
    """Spark task slots: one fewer than the CPUs this process may use, so
    the Python driver, the JIT compiler and the garbage collector get a
    core of their own instead of preempting tasks (more threads than
    cores would time the scheduler as much as the engine)."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


# -- the program under test -------------------------------------------------
class Program:
    """The engine, imported from the checkout this file sits in."""

    def __init__(self, ncpu: int):
        sys.path.insert(0, str(ROOT))
        try:
            entry = importlib.import_module("__spark_entry__")
            from gem_data_wrangle_spark import get_spark
            from gem_data_wrangle_spark.sources import io as sources_io
        except ImportError as exc:
            raise SystemExit(f"perfbench: cannot import the engine from {ROOT}: {exc}") from exc
        self.get_spark = get_spark
        # called through its module, so a traced pass records its span
        self.sources_io = sources_io
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.fingerprint = _load_fingerprint()
        self.ncpu = ncpu

    def traced_modules(self) -> dict[str, object]:
        return {
            key: importlib.import_module(f"gem_data_wrangle_spark.{key}") for key in TRACED_MODULES
        }


def _load_fingerprint():
    """``frame_fingerprint`` from ``tools/check_parity.py`` (imported, so
    the benchmark canonicalises exactly as the parity gate does)."""
    path = ROOT / "tools" / "check_parity.py"
    spec = importlib.util.spec_from_file_location("check_parity", path)
    if spec is None or not path.exists():
        raise SystemExit(f"perfbench: missing {path}")
    module = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved  # the tool prepends its own checkout path
    return module.frame_fingerprint


def set_environment(ncpu: int) -> None:
    """Settings read at import or process launch: the engine's own knobs
    (its session module reads them on import) and scratch directories
    inside the checkout for Python, the JVMs and Spark."""
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(ncpu)
    # a 2 GB heap holds the sf0.01 workloads; the engine's 8 GB default
    # is sized for a large dedicated host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    tmp, local = WORK / "tmp", WORK / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # forget a temp dir chosen before TMPDIR was set
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # keep both JVMs (launcher and Spark) from writing hsperfdata to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(program: Program, trace: bool):
    conf = {
        # Python workers unpickle engine functions by import path
        "spark.executorEnv.PYTHONPATH": str(ROOT),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if trace:
        log_root = WORK / "eventlog"
        shutil.rmtree(log_root, ignore_errors=True)
        log_root.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": log_root.as_uri(),
            }
        )
    spark = program.get_spark("perfbench", master=f"local[{program.ncpu}]", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procstat.reap_descendants(os.getpid())


# -- passes -------------------------------------------------------------------
@dataclass
class Counts:
    attempted: int = 0
    failed: int = 0

    def fail(self, name: str, phase: str) -> None:
        self.failed += 1
        print(f"perfbench: {name} raised during {phase}:", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)


def write(program: Program, workload: Workload, name: str, df) -> None:
    if workload.sink == "csv":
        program.sources_io.sink_csv(df, str(WORK / "sink" / name))
    else:
        df.write.format("noop").mode("overwrite").save()


def check_pass(program, spark, workload, data_dir, counts) -> dict:
    """The set-up pass: run every query once and collect its output."""
    outputs = {}
    for name in workload.queries:
        counts.attempted += 1
        try:
            outputs[name] = program.queries[name](spark, data_dir).toPandas()
        except Exception:  # noqa: BLE001 — a failing query is counted, the run goes on
            counts.fail(name, "the set-up pass")
    if workload.sink == "csv":  # load the CSV writer before timing
        program.sources_io.sink_csv(spark.range(8).toDF("id"), str(WORK / "sink" / "_warm"))
    return outputs


def timed_pass(program, spark, workload, data_dir, counts) -> tuple[float, float]:
    """(wall seconds, CPU seconds of the process tree) of one pass."""
    pid = os.getpid()
    cpu0 = procstat.tree_cpu_s(pid)
    t0 = time.perf_counter()
    for name in workload.queries:
        counts.attempted += 1
        try:
            write(program, workload, name, program.queries[name](spark, data_dir))
        except Exception:  # noqa: BLE001
            counts.fail(name, "a timed pass")
    wall = time.perf_counter() - t0
    return wall, procstat.tree_cpu_s(pid) - cpu0


@dataclass
class Phase:
    query: str
    kind: str  # "construct" or "sink"
    group: str
    start: float
    end: float
    py4j_cmds: int


def traced_pass(program, spark, workload, data_dir, counts, tracer, tag) -> tuple[float, list[Phase]]:
    sc = spark.sparkContext
    phases = []
    tracer.active = True
    t0 = time.perf_counter()
    try:
        for name in workload.queries:
            counts.attempted += 1
            df = None
            try:
                for kind in ("construct", "sink"):
                    group = f"{tag}.{name}.{kind}"
                    sc.setJobGroup(group, f"perfbench {name} {kind}")
                    cmds0 = tracer.py4j_cmds
                    start = time.time()
                    with tracer.phase(f"{name}.{kind}"):
                        try:
                            if kind == "construct":
                                df = program.queries[name](spark, data_dir)
                            else:
                                write(program, workload, name, df)
                        finally:
                            phases.append(
                                Phase(name, kind, group, start, time.time(), tracer.py4j_cmds - cmds0)
                            )
            except Exception:  # noqa: BLE001
                counts.fail(name, "a traced pass")
    finally:
        tracer.active = False
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return time.perf_counter() - t0, phases


# -- per-layer metrics from the event log and the spans --------------------
def _phase_of(item_group, item_t, by_group, phases):
    """(phase, unattributed) for a job or stage: by its job group, else by
    the phase window its submission time falls in."""
    phase = by_group.get(item_group)
    if phase is not None:
        return phase, False
    if item_group is None and item_t is not None:
        for ph in phases:
            if ph.start <= item_t <= ph.end:
                return ph, True
    return None, False


def attribute(log, phases: list[Phase]):
    """Jobs and stages of each phase, keyed by job group, and the number
    of jobs that carried no group but were submitted inside a phase."""
    by_group = {ph.group: ph for ph in phases}
    jobs, stages = defaultdict(list), defaultdict(list)
    unattributed = 0
    for job in log.jobs.values():
        ph, loose = _phase_of(job.group, job.submit_s, by_group, phases)
        if ph is not None:
            jobs[ph.group].append(job)
            unattributed += loose
    for st in log.stages.values():
        ph, _ = _phase_of(st.group, st.submit_s, by_group, phases)
        if ph is not None:
            stages[ph.group].append(st)
    return jobs, stages, unattributed


def pass_layers(log, tracer, phases: list[Phase], wall: float, ncpu: int, rows: int) -> dict:
    jobs, stages, unattributed = attribute(log, phases)

    def job_union(ph):
        return eventlog.union_s(
            ((j.submit_s, j.end_s if j.end_s is not None else ph.end) for j in jobs[ph.group]),
            ph.start,
            ph.end,
        )

    construct = [ph for ph in phases if ph.kind == "construct"]
    sinks = [ph for ph in phases if ph.kind == "sink"]
    all_stages = [st for ph in phases for st in stages[ph.group]]

    def total(attr, group_phases=None):
        sts = all_stages if group_phases is None else [
            st for ph in group_phases for st in stages[ph.group]
        ]
        return sum(getattr(st, attr) for st in sts)

    def py(key):
        return sum(st.py.get(key, 0) for st in all_stages)

    run_s = total("run_ms") / 1e3
    out = {
        "construct.s": sum(ph.end - ph.start for ph in construct),
        "construct.driver_s": sum(ph.end - ph.start - job_union(ph) for ph in construct),
        "construct.py4j_cmds": sum(ph.py4j_cmds for ph in construct),
        "eager.jobs": sum(len(jobs[ph.group]) for ph in construct),
        "eager.tasks": total("tasks", construct),
        "eager.s": sum(job_union(ph) for ph in construct),
        "stages.count": total("attempts"),
        "stages.tasks": total("tasks"),
        "stages.run_s": run_s,
        "stages.cpu_s": total("cpu_ns") / 1e9,
        "stages.gc_s": total("gc_ms") / 1e3,
        "stages.busy_frac": run_s / (ncpu * wall),
        "stages.shuffle_write_mb": total("shuffle_write_b") / 1e6,
        "stages.shuffle_read_mb": total("shuffle_read_b") / 1e6,
        "stages.spill_mb": total("spill_b") / 1e6,
        "stages.failed_tasks": total("failed_tasks"),
        "arrow.to_python_mb": py("py_sent_b") / 1e6,
        "arrow.from_python_mb": py("py_recv_b") / 1e6,
        "arrow.worker_init_s": (py("py_start_ms") + py("py_init_ms")) / 1e3,
        "arrow.worker_run_s": py("py_run_ms") / 1e3,
        "sink.s": sum(ph.end - ph.start for ph in sinks),
        "sink.jobs": sum(len(jobs[ph.group]) for ph in sinks),
        "sink.bytes_mb": total("output_b", sinks) / 1e6,
        "sink.rows": rows,
        "jobs.unattributed": unattributed,
        "trace.wall_s": wall,
    }
    lo = min(ph.start for ph in phases)
    hi = max(ph.end for ph in phases)
    selfs = tracing.self_times(tracer.spans, lo, hi)
    for m in TRACED_MODULES:
        out[f"span.{m}.self_s"] = 0.0
        out[f"span.{m}.calls"] = 0
    for i, self_s in selfs.items():
        module = tracer.spans[i].module
        if module is not None:
            out[f"span.{module}.self_s"] += self_s
            out[f"span.{module}.calls"] += 1
    return out


def dump_trace(path: Path, log, tracer, traced: list[list[Phase]]) -> None:
    """Spans, jobs and per-phase totals of the traced passes; each job
    names its enclosing span."""
    lo = min(ph.start for phases in traced for ph in phases)
    hi = max(ph.end for phases in traced for ph in phases)
    idx = [i for i, s in enumerate(tracer.spans) if s.end is not None and lo <= s.start <= hi]
    jobs = [
        {
            "id": job.id,
            "group": job.group,
            "start": job.submit_s,
            "end": job.end_s,
            "span": tracing.enclosing_span(tracer.spans, job.submit_s, idx),
        }
        for job in sorted(log.jobs.values(), key=lambda j: j.id)
        if lo <= job.submit_s <= hi
    ]
    phases = []
    for pass_phases in traced:
        by_job, by_stage, _ = attribute(log, pass_phases)
        for ph in pass_phases:
            sts = by_stage[ph.group]
            phases.append(
                dict(
                    vars(ph),
                    jobs=len(by_job[ph.group]),
                    tasks=sum(st.tasks for st in sts),
                    shuffle_write_mb=sum(st.shuffle_write_b for st in sts) / 1e6,
                    to_python_mb=sum(st.py.get("py_sent_b", 0) for st in sts) / 1e6,
                    output_mb=sum(st.output_b for st in sts) / 1e6,
                )
            )
    spans = [dict(vars(tracer.spans[i]), id=i) for i in idx]
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({"phases": phases, "spans": spans, "jobs": jobs}))


# -- one workload ---------------------------------------------------------------
def oracle_mismatches(program: Program, data_dir: Path, outputs: dict) -> list[str]:
    import duckdb

    con = duckdb.connect()
    bad = []
    try:
        for table in seeddata.TABLES:
            con.sql(f"CREATE VIEW {table} AS FROM '{data_dir / table}.parquet'")
        for name, got in outputs.items():
            try:
                want = program.fingerprint(con.sql(program.oracles[name]).df())
                have = program.fingerprint(got)
            except Exception:  # noqa: BLE001 — an unverifiable output is a mismatch
                print(f"perfbench: cannot compare {name} with its oracle:", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                bad.append(name)
                continue
            if have[:3] != want[:3]:
                print(
                    f"perfbench: {name} differs from its oracle "
                    f"(rows {have[0]} vs {want[0]}, columns {have[1]} vs {want[1]})",
                    file=sys.stderr,
                )
                bad.append(name)
    finally:
        con.close()
    return bad


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    workload = WORKLOADS[name]
    set_environment(cores())
    steal0 = procstat.steal_s()
    t_import = time.perf_counter()
    program = Program(cores())
    t_data = time.perf_counter()
    data_dir = seeddata.derive(seed, WORK / "data")
    counts = Counts()

    t0 = time.perf_counter()
    spark = start_session(program, trace)
    t1 = time.perf_counter()
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    outputs = check_pass(program, spark, workload, str(data_dir), counts)
    t2 = time.perf_counter()
    rows = sum(len(df) for df in outputs.values())

    walls, cpus, traced = [], [], []
    tracer = None
    if trace:
        tracer = tracing.Tracer(program.traced_modules(), ("gem_data_wrangle_spark", "__spark_entry__"))
        tracer.install()
    start, last = time.perf_counter(), 0.0
    # start a pass only if it should end inside the window (at least one
    # pass, and with tracing one of each kind)
    while time.perf_counter() - start + last <= seconds or not walls or (trace and not traced):
        t_pass = time.perf_counter()
        if trace and len(traced) <= len(walls):  # traced first: it bears any leftover warm-up
            wall, phases = traced_pass(
                program, spark, workload, str(data_dir), counts, tracer, f"pb{len(traced)}"
            )
            traced.append((wall, phases))
        else:
            wall, cpu = timed_pass(program, spark, workload, str(data_dir), counts)
            walls.append(wall)
            cpus.append(cpu)
        last = time.perf_counter() - t_pass
    peak = procstat.peak_rss_mb(os.getpid()) + procstat.peak_rss_mb(jvm_pid)
    t3 = time.perf_counter()
    stop_session(spark)
    t4 = time.perf_counter()
    mismatched = oracle_mismatches(program, data_dir, outputs)
    print(
        f"perfbench: import {t_data - t_import:.2f} s, input {t0 - t_data:.2f} s, "
        f"session {t1 - t0:.2f} s, set-up pass {t2 - t1:.2f} s, "
        f"untraced passes {[round(w, 2) for w in walls]} s, "
        f"traced passes {[round(w, 2) for w, _ in traced]} s, "
        f"stop {t4 - t3:.2f} s, oracle check {time.perf_counter() - t4:.2f} s, "
        f"host steal {procstat.steal_s() - steal0:.2f} CPU s",
        file=sys.stderr,
    )
    result = {
        "workload": name,
        "passes": len(walls),
        "attempted": counts.attempted,
        "failed": counts.failed,
        "oracle_mismatch": len(mismatched),
        "end_to_end": {
            "setup_s": t2 - t0,
            "wall_s": statistics.median(walls),
            "cpu_s": statistics.median(cpus),
        },
    }
    if trace:
        log = eventlog.read_log(eventlog.app_log_dir(WORK / "eventlog"))
        per_pass = [
            pass_layers(log, tracer, phases, wall, program.ncpu, rows) for wall, phases in traced
        ]
        layers = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        layers["session.start_s"] = t1 - t0
        layers["session.warm_s"] = t2 - t1
        layers["session.peak_rss_mb"] = peak
        layers["trace.overhead_s"] = layers["trace.wall_s"] - statistics.median(walls)
        result["per_layer"] = layers
        dump_trace(WORK / "trace" / f"{name}-seed{seed}.json", log, tracer, [p for _, p in traced])
    return result


def record(result: dict, trace: bool) -> dict:
    """The result line: every end-to-end metric, or with ``trace`` every
    per-layer metric, by name with its unit."""
    names, values = (PER_LAYER, result["per_layer"]) if trace else (END_TO_END, result["end_to_end"])
    return {
        "correct": result["failed"] == 0 and result["oracle_mismatch"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": unit} for k, unit in names.items()},
    }


def summary(result: dict, trace: bool) -> list[str]:
    lines = [f"perfbench {result['workload']}: {result['passes']} timed pass(es)"]
    units = PER_LAYER if trace else END_TO_END
    values = result["per_layer"] if trace else result["end_to_end"]
    for k, unit in units.items():
        lines.append(f"  {k:<34} {values[k]:>14.6g} {unit}")
    lines.append(
        f"  {'failed_frac':<34} {result['failed'] / result['attempted']:>14.6g} "
        f"({result['failed']} of {result['attempted']} query executions)"
    )
    lines.append(
        f"  {'oracle_mismatch':<34} {result['oracle_mismatch']:>14d} "
        f"(of {len(WORKLOADS[result['workload']].queries)} queries)"
    )
    return lines


def run_all(args) -> int:
    """Every workload, one fresh process each; the last line sums them."""
    code, merged = 0, {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        code = max(code, proc.returncode)
        try:
            rec = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            merged["correct"] = False
            continue
        merged["correct"] &= rec["correct"]
        merged["attempted"] += rec["attempted"]
        merged["failed"] += rec["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in rec["metrics"].items()})
    print(json.dumps(merged))
    return code


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", default="all", choices=["all", *WORKLOADS])
    parser.add_argument("--seed", type=int, default=0)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = parser.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print("\n".join(summary(result, bool(args.trace))))
    rec = record(result, bool(args.trace))
    print(json.dumps(rec))
    return 0 if rec["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
