"""Command-line parsing of the scripts under ``tools/``."""

import importlib.util
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
