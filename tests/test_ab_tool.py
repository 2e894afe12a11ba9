"""scripts/ab.py: verdicts, the printed table, snapshots and the throwaway
registry. No Spark session and no perfbench run."""

from __future__ import annotations

import json
import os
import subprocess

import pytest

from scripts import ab

BENCH = {
    "paths": ["perfbench"],
    "end_to_end": [
        {"name": "ops_per_s", "better": "higher", "bound": 0.25},
        {"name": "op_p50_s", "better": "lower", "bound": 0.25},
    ],
}
# ten base runs with a 2% quartile spread around 1.0
BASE = [1.00, 0.99, 1.01, 0.98, 1.02, 1.00, 0.99, 1.01, 1.00, 1.00]


def _head(better: str, factor: float) -> list[float]:
    """Head runs ``factor`` times better (> 1) or worse (< 1) than BASE."""
    return [b * factor if better == "higher" else b / factor for b in BASE]


@pytest.mark.parametrize("better", ["higher", "lower"])
def test_verdicts_in_both_directions(better):
    assert ab.verdict(BASE, _head(better, 1.5), better, 0.25) == "gain"
    assert ab.verdict(BASE, _head(better, 0.6), better, 0.25) == "regression"
    # worse, but inside the bound and the spread
    assert ab.verdict(BASE, _head(better, 0.9), better, 0.25) == "flat"
    # the same runs, alternately a hair better and worse
    wobble = [b * (1.001 if i % 2 else 0.999) for i, b in enumerate(BASE)]
    assert ab.verdict(BASE, wobble, better, 0.25) == "flat"
    # better by far more than the base IQR, but in 8 of 10 pairs only
    mostly = _head(better, 1.5)
    mostly[:2] = BASE[:2]
    assert ab.pairs_won(BASE, mostly, better) == 8
    assert ab.verdict(BASE, mostly, better, 0.25) == "flat"
    # a spread wider than the bound cannot be called flat...
    wide = [1.0, 0.5, 1.5, 0.6, 1.4, 1.0, 0.7, 1.3, 1.0, 1.0]
    assert ab.verdict(wide, list(reversed(wide)), better, 0.25) == "unresolved"
    # ...unless every head run reads better than every base run
    skewed = [0.5] * 4 + [1.0] * 2 + [1.5] * 4
    beyond = [1.51 if better == "higher" else 0.49] * 10
    assert ab.verdict(skewed, beyond, better, 0.25) == "flat"


def test_row_format():
    lines = ab.report(
        "scan_reduce",
        {"ops_per_s": (BASE, _head("higher", 1.5)), "op_p50_s": (BASE, _head("lower", 0.9))},
        {"base": (0, 120), "head": (0, 120)},
        BENCH,
    )
    assert lines == [
        "scan_reduce / ops_per_s: 1.000 (0.990–1.010) → 1.500 (1.485–1.515), +50.0%, 10/10: gain",
        "scan_reduce / op_p50_s: 1.000 (0.990–1.010) → 1.111 (1.100–1.122), +11.1%, 0/10: flat",
        "scan_reduce: failed/attempted base 0/120, head 0/120",
    ]
    # negative deltas use a minus sign; values >= 10 keep one decimal
    row = ab.row("w", "driver_peak_rss_mb", [140.0] * 4, [126.0] * 4, "lower")
    assert row == "w / driver_peak_rss_mb: 140.0 (140.0–140.0) → 126.0 (126.0–126.0), −10.0%, 4/4"


@pytest.mark.parametrize("side", ["base", "head"])
def test_a_failed_op_withholds_every_verdict(side):
    counts = {"base": (0, 120), "head": (0, 120)}
    counts[side] = (1, 120)
    lines = ab.report("scan_reduce", {"ops_per_s": (BASE, _head("higher", 1.5))}, counts, BENCH)
    assert lines[0].endswith("+50.0%, 10/10")
    assert lines[1].endswith("(no verdict: an op failed)")


def test_query_times_are_judged_as_op_p50_s():
    lines = ab.report("q", {"op_s": (BASE, _head("lower", 1.5))},
                      {"base": (0, 10), "head": (0, 10)}, BENCH)
    assert lines[0].endswith("10/10: gain")


@pytest.fixture
def repo(tmp_path, monkeypatch):
    """A git repository whose working tree differs from HEAD both in its
    benchmark files and in its program files."""
    root = tmp_path / "repo"
    (root / "perfbench").mkdir(parents=True)

    def write(rel, text):
        (root / rel).write_text(text)

    write("BENCHMARK.json", json.dumps({"paths": ["perfbench"], "v": 1}))
    write("perfbench/run.py", "old bench\n")
    write("perfbench/gone.py", "only at HEAD\n")
    write("program.py", "old program\n")
    git = ["git", "-C", str(root), "-c", "user.name=t", "-c", "user.email=t@t"]
    subprocess.run(git[:3] + ["init", "-q"], check=True)
    subprocess.run(git + ["add", "-A"], check=True)
    subprocess.run(git + ["commit", "-q", "-m", "base"], check=True)
    write("BENCHMARK.json", json.dumps({"paths": ["perfbench"], "v": 2}))
    write("perfbench/run.py", "new bench\n")
    write("perfbench/added.py", "untracked, not ignored\n")
    os.remove(root / "perfbench/gone.py")
    write("program.py", "new program\n")
    monkeypatch.setattr(ab, "ROOT", str(root))
    return root


def test_snapshot_of_head_runs_the_working_tree_benchmark(repo, tmp_path):
    bench = ab.load_bench()
    dest = tmp_path / "head"
    ab.snapshot("HEAD", str(dest), bench)
    assert (dest / "program.py").read_text() == "old program\n"
    assert (dest / "perfbench/run.py").read_text() == "new bench\n"
    assert (dest / "perfbench/added.py").exists()
    assert not (dest / "perfbench/gone.py").exists()
    assert json.loads((dest / "BENCHMARK.json").read_text())["v"] == 2
    # no --head: the working tree itself
    tree = tmp_path / "tree"
    ab.snapshot(None, str(tree), bench)
    assert (tree / "program.py").read_text() == "new program\n"
    assert not (tree / "perfbench/gone.py").exists()


def test_loading_a_revision_leaves_the_live_registry_alone():
    import xarray_sql_spark.queries  # noqa: F401
    from xarray_sql_spark.registry import REGISTRY

    name = "ts15_bigram_surprisal"
    before = list(REGISTRY.items())
    module = REGISTRY[name].fn.__module__
    old = ab.load_registry("HEAD", [module])
    assert list(REGISTRY.items()) == before
    assert old[name].fn is not REGISTRY[name].fn
    assert old[name].fn.__module__ != module
    assert set(old) < set(REGISTRY)
