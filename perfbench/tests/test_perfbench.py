"""The benchmark's own tests: seeded inputs are reproducible, and every
workload runs at a tiny size and emits every metric BENCHMARK.json names,
with its unit.

    python -m pytest perfbench/tests -q

The end-to-end runs start Spark; together they take a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import harness  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def _generate(base: str, seed: int) -> dict:
    truth = gen.crawl_corpus(os.path.join(base, "corpus"), seed, 80, 3)
    gen.analytics_tables(os.path.join(base, "tables"), seed, 0.001)
    with open(os.path.join(base, "queries.json"), "w") as f:
        json.dump(gen.query_texts(seed, 16), f)
    return truth


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    t1 = _generate(str(tmp_path / "a"), 7)
    t2 = _generate(str(tmp_path / "b"), 7)
    assert t1 == t2
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))


def test_different_seed_gives_different_inputs(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 8)
    for sub in ("corpus/raw", "corpus/pdfs", "tables"):
        a, b = tmp_path / "a" / sub, tmp_path / "b" / sub
        _, mismatch, _ = filecmp.cmpfiles(a, b, sorted(os.listdir(a)), shallow=False)
        assert mismatch, sub
    assert (tmp_path / "a/queries.json").read_text() != (tmp_path / "b/queries.json").read_text()


def test_corpus_truth_has_every_planted_case(tmp_path):
    truth = gen.crawl_corpus(str(tmp_path), 3, 400, 2)
    assert truth["n_input"] == 402
    for key in ("n_dups", "n_html", "n_short", "emails", "phones"):
        assert truth[key] > 0, key
    # survivors: everything except exact copies and short texts
    assert truth["survivors"] == 402 - truth["n_dups"] - truth["n_short"]
    quirk = [json.loads(line) for line in open(tmp_path / "raw" / "ons.gov.uk.jsonl")]
    assert all("license:" in r and "license" not in r for r in quirk)


def test_span_self_time_excludes_children():
    tr = harness.Tracer()
    with tr.span("outer", "pipeline"):
        with tr.span("inner", "sinks"):
            pass
    st = tr.self_times()
    outer, inner = tr.spans
    assert inner[4] == 0 and outer[4] == -1
    total = outer[3] - outer[2]
    assert st["pipeline"] + st["sinks"] == pytest.approx(total)
    assert st["sinks"] == pytest.approx(inner[3] - inner[2])


class _Workload:
    """A stand-in workload whose operations or checks raise."""

    name = "stand_in"

    def __init__(self, op_raises: bool, check_raises: bool) -> None:
        self.op_raises, self.check_raises = op_raises, check_raises

    def op(self, i: int) -> float:
        if self.op_raises:
            raise RuntimeError("op failed")
        return 0.01

    def after_op(self, i: int) -> None:
        if self.check_raises:
            raise FileNotFoundError("no output to check")


def test_failing_operations_are_counted_not_raised(tmp_path):
    import run
    import workloads

    ctx = workloads.Context(str(tmp_path), 1, "tiny")
    plain, traced, counts = run.measure(_Workload(True, False), ctx, 1.0)
    assert plain == traced == counts == []
    assert ctx.failed == ctx.attempted == 4


def test_a_check_that_raises_is_a_failed_check(tmp_path):
    import run
    import workloads

    ctx = workloads.Context(str(tmp_path), 1, "tiny")
    plain, _, _ = run.measure(_Workload(False, True), ctx, 0.045)
    assert len(plain) == 5
    assert ctx.failed == ctx.attempted == 5


def _run(workload: str, trace: int, root: str, cwd: str) -> subprocess.CompletedProcess:
    program, script = SPEC["command"]
    cmd = [program, os.path.join(root, script),
           "--workload", workload, "--seed", "5", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload, trace, tmp_path):
    # from another working directory: the Python workers must still
    # import the package
    p = _run(workload, trace, ROOT, str(tmp_path))
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout[-3000:]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p = _run(SPEC["workloads"][0]["name"], 0, str(tmp_path), str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
