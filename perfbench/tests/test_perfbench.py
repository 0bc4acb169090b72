"""The benchmark's own tests: ``python3 -m pytest perfbench/tests -q``.

The end-to-end cases start Spark once per workload and trace mode on a
tiny input (about a minute each on a 4-core host).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import workloads as W
from perfbench.check import fail_urls

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize("workload", sorted(W.GENERATORS))
def test_seed_gives_input_digest(workload):
    gen = W.GENERATORS[workload]
    a = W.content_digest(gen(200, 5))
    assert a == W.content_digest(gen(200, 5))
    assert a[0] != W.content_digest(gen(200, 6))[0]
    assert a[1] > 0


def test_fused_links_pages_are_link_dense():
    rows = W.fused_links(64, 3)
    html = [r["html"] for r in rows if not r["html"].startswith(b"%PDF-")]
    assert html and all(h.count(b"<a ") >= 20 for h in html)


def test_skewed_tail_shape():
    rows = W.skewed_tail(4000, 3)
    hot = sum(r["url"].startswith("https://hot.example.com/") for r in rows)
    cut = sum(r["html"].endswith((b"<<<<", b"<a <a ")) for r in rows)
    assert hot == len(rows) // 2
    assert cut == len(rows) // 200


def test_fail_urls_counts_missing_duplicate_and_changed():
    spec = {"u1": "a", "u2": "b", "u3": "c", "u4": "d"}
    rows = [("u1", "a", "x"), ("u2", "B", "x"), ("u4", "d", "x"), ("u4", "d", "y"), ("zz", "q", "x")]
    assert fail_urls(spec, rows) == {"u2", "u3", "u4"}
    assert fail_urls(spec, [(u, t, "x") for u, t in spec.items()]) == set()


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--pages", "64", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_tiny_run_prints_every_metric(workload, trace):
    # the text-mixed untraced run also plants one wrong spec text: the
    # correctness gate must count exactly that url
    plant = workload == "text-mixed" and trace == 0
    proc = _run(workload, trace, *(["--plant-mismatch"] if plant else []))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    assert [m["name"] for m in declared] == list(result["metrics"])
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), (m["name"], got)
    assert info["input"]["rows"] == 64 and len(info["input"]["sha256"]) == 64
    if plant:
        assert result["failed"] >= 1 and info["fail_frac"]["value"] > 0 and not result["correct"]
    else:
        assert result["failed"] == 0 and info["fail_frac"]["value"] == 0 and result["correct"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("text-mixed", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
