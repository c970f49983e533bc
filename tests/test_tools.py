"""Command-line parsing and output of the scripts under ``tools/``."""

import importlib.util
import re
from pathlib import Path

import pytest

_TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _load(name):
    spec = importlib.util.spec_from_file_location(name, _TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("argv", [
    ["30", "--cores", "8,32", "--queries", "a,b"],
    ["30", "--cores=8,32", "--queries=a,b"],
    ["--cores", "8,32", "30", "--queries=a,b"],
])
def test_scale_cores_accepts_both_option_forms(argv):
    args = _load("scale_cores").parse_args(argv)
    assert (args.n, args.cores, args.queries) == (30, [8, 32], ["a", "b"])


def test_scale_cores_defaults_and_rejects_garbage():
    mod = _load("scale_cores")
    args = mod.parse_args([])
    assert (args.n, args.cores, args.queries) == (10, [8, 32], mod.DEFAULT_QUERIES)
    with pytest.raises(SystemExit):
        mod.parse_args(["--cores"])
    with pytest.raises(SystemExit):
        mod.parse_args(["--cores", "eight"])


def test_profile_query_reports_generated_class_compiles(spark, sf_dir, monkeypatch, capsys):
    mod = _load("profile_query")
    n0, ms0 = mod.codegen_counters(spark)
    spark.range(1).selectExpr("id * 7919 + 104729").collect()  # one new class at least
    n1, ms1 = mod.codegen_counters(spark)
    assert n1 > n0 and ms1 > ms0

    monkeypatch.setattr(mod, "get_spark", lambda *a, **k: spark)
    mod.main(["agg_sum_groups", "--sf", sf_dir, "--runs", "2", "--no-warm"])
    lines = capsys.readouterr().out.splitlines()
    pattern = (
        r"run {}: construct=\d+\.\d{{3}}s write=\d+\.\d{{3}}s total=\d+\.\d{{3}}s "
        r"compiled=\d+ classes compile=\d+ms"
    )
    assert len(lines) == 2, lines
    for i, line in enumerate(lines):
        assert re.fullmatch(pattern.format(i), line), line
