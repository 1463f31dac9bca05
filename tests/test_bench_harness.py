"""The bench harness contract: every scripts/bench_*.py is a suite module
(an int SCALE and a run function, no argument parsing, no history file of
its own), bench.py takes exactly three flags, and one suite run prints one
JSON line and appends exactly one line to the history file."""

import ast
import glob
import json
import os

import pytest

import bench

SUITE_FILES = sorted(glob.glob(os.path.join(bench.REPO, "scripts", "bench_*.py")))


@pytest.mark.parametrize("path", SUITE_FILES, ids=os.path.basename)
def test_suite_module_shape(path):
    tree = ast.parse(open(path).read())
    top = {
        t.id: node.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    assert isinstance(top.get("SCALE"), ast.Constant) and type(top["SCALE"].value) is int
    runs = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "run"]
    assert len(runs) == 1 and [a.arg for a in runs[0].args.args] == ["n", "cpus"]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            assert "argparse" not in [a.name for a in node.names]
        if isinstance(node, ast.ImportFrom):
            assert node.module != "argparse"
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "open":
            assert "hist" not in ast.unparse(node.args[0]).lower()


def test_bench_accepts_only_the_three_flags():
    flags = {s for a in bench.parser()._actions for s in a.option_strings}
    assert flags - {"-h", "--help"} == {"--suite", "--scale", "--cpus"}


def test_suite_run_prints_one_line_and_appends_one(tmp_path, monkeypatch, capsys):
    hist = tmp_path / "history.jsonl"
    monkeypatch.setattr(bench, "HISTORY", str(hist))
    bench.main(["--suite", "cc", "--scale", "64", "--cpus", "2"])
    out = capsys.readouterr().out.splitlines()
    assert len(out) == 1
    line = json.loads(out[0])
    assert (line["suite"], line["scale"], line["cpus"]) == ("cc", 64, 2)
    assert "commit" in line and line["wall_s"] > 0
    assert set(line["result"]) == {"noisy", "sparse-text"}
    assert [json.loads(x) for x in hist.read_text().splitlines()] == [line]
