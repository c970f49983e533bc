"""Isolate one declared query: time fn() construction vs noop write,
optionally dump explain("formatted") — the guide §1 measurement loop.
Each run also reports how many classes Spark generated and compiled
(Janino) and the milliseconds that took: a recurring query whose
working set fits the generated-class cache compiles ~0 after its first
run.

    python tools/profile_query.py <query> [--sf sfdir] [--plan out.txt] [--runs N]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from gem_data_wrangle_spark import get_spark  # noqa: E402


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, compile milliseconds) since the JVM started,
    read from Spark's codegen counters over py4j — no Spark job."""
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return compiles.getCount(), codegen.compileTime() / 1e6


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plan", default=None)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args(argv)

    spark = get_spark("profile")
    fn = entrymod.queries()[args.query]

    if not args.no_warm:
        spark.sparkContext.setJobDescription(f"{args.query}: warm sf0.001")
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()

    for i in range(args.runs):
        n0, ms0 = codegen_counters(spark)
        t0 = time.time()
        spark.sparkContext.setJobDescription(f"{args.query}: construct")
        df = fn(spark, args.sf)
        t1 = time.time()
        spark.sparkContext.setJobDescription(f"{args.query}: noop write")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
        n1, ms1 = codegen_counters(spark)
        print(
            f"run {i}: construct={t1 - t0:.3f}s write={t2 - t1:.3f}s "
            f"total={t2 - t0:.3f}s compiled={n1 - n0} classes "
            f"compile={ms1 - ms0:.0f}ms",
            flush=True,
        )

    if args.plan:
        import contextlib  # noqa: PLC0415
        import io  # noqa: PLC0415

        df = fn(spark, args.sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(args.plan, "w") as fh:
            fh.write(buf.getvalue())
        print(f"plan -> {args.plan}")


if __name__ == "__main__":
    main()
