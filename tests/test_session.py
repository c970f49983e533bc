"""Session-factory configuration parsing and the generated-class cache."""

import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from gem_data_wrangle_spark import get_spark
from gem_data_wrangle_spark.session import _int_env

_NAMES = ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_CPUS")
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("bad", ["0", "-1", "*", "", "eight"])
def test_int_env_skips_invalid_partition_counts(monkeypatch, bad):
    """A value that would build a session dying at its first shuffle
    falls through to the next variable, then to the default."""
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", bad)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _int_env(_NAMES, 32) == 6
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "0")
    assert _int_env(_NAMES, 32) == 32


def test_int_env_takes_first_positive(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "200")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _int_env(_NAMES, 32) == 200
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert _int_env(_NAMES, 32) == 32


def _compiles(spark) -> int:
    """Classes Spark has generated and compiled since the JVM started."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _query(spark, i: int) -> None:
    # the literal is inlined into the generated source: one class per i
    spark.range(1).selectExpr(f"id + {i + 1}").collect()


def _recompiles_after_pool(spark, n: int = 120) -> int:
    """Run ``n`` distinct one-class queries on a pool thread, as
    ``_all8_fuel_frames`` builds its plans, then rerun the first on the
    calling thread: the number of classes that rerun compiled again."""
    with ThreadPoolExecutor(max_workers=1) as pool:
        pool.submit(lambda: [_query(spark, i) for i in range(n)]).result()
    before = _compiles(spark)
    _query(spark, 0)
    return _compiles(spark) - before


def test_codegen_cache_outlives_all8_working_set(spark):
    """The generated-class cache holds more than one all-8 pass cycles
    through: a class compiled 120 classes ago is still cached (Spark's
    default LRU of 100 entries evicts it)."""
    assert _recompiles_after_pool(spark) == 0


def test_codegen_cache_sized_before_pool_threads_use_it():
    """In a fresh JVM, a pool thread that executes a plan outside any
    action (``_spread``'s ``df.rdd``) is the cache's first user; it has
    no active session and would size the cache from Spark's defaults.
    ``get_spark`` builds the cache first, so the session's size holds."""
    env = dict(os.environ, PYTHONPATH=_REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    assert out.stdout.split()[-1] == "0", out.stdout + out.stderr[-2000:]


@pytest.mark.slow
def test_all8_second_run_reuses_compiled_classes(spark, sf_dir):
    """A recurring gem_total_consolidation_all8 compiles (nearly) nothing
    on its second run. Not 0: codegen stage ids can be renumbered under
    concurrent stage submission, which changes a few classes' source."""
    import __spark_entry__ as entrymod  # noqa: PLC0415

    fn = entrymod.queries()["gem_total_consolidation_all8"]
    counts = []
    for _ in range(2):
        before = _compiles(spark)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        counts.append(_compiles(spark) - before)
    assert counts[1] < 20, counts


if __name__ == "__main__":
    # the subprocess of test_codegen_cache_sized_before_pool_threads_use_it
    session = get_spark("codegen-cache", master="local[1]")
    with ThreadPoolExecutor(max_workers=1) as pool:
        pool.submit(
            lambda: session.range(4).selectExpr("id + 1").rdd.getNumPartitions()
        ).result()
    print(_recompiles_after_pool(session))
