"""Smoke test of the benchmark itself (not part of the engine's suite).

Runs each workload briefly on small inputs, untraced and traced, and
checks that every metric ``BENCHMARK.json`` declares is printed with its
unit, and that a deliberately altered expected result makes the run
report a failed operation. Run from the repository root::

    python3 -m pytest perfbench/test_smoke.py -q

It takes about six minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import check, metrics  # noqa: E402

WORKLOADS = ("ingest", "serve")
# about the size of the sf0.001 fixture
SMALL = "import perfbench.{} as small\nsmall.N_EVENTS = 1_000\n"
SECONDS = "2"

# Patches applied before run.main(): each corrupts what one workload's
# check compares against, so a working check must report failures.
ALTER = {
    "serve": (
        "import perfbench.serve as w\n"
        "orig = w.oracle_sql\n"
        "w.oracle_sql = lambda *a: (f'SELECT * FROM ({orig(*a)}) UNION ALL '\n"
        "                           f'(SELECT * FROM ({orig(*a)}) LIMIT 1)')\n"
    ),
    "ingest": (
        "import perfbench.ingest as w\n"
        "orig = w._expected\n"
        "def altered(*a):\n"
        "    out = orig(*a)\n"
        "    out['price_data'] = out['price_data'].iloc[1:]\n"
        "    return out\n"
        "w._expected = altered\n"
    ),
}


def _run(workload: str, trace: int, patch: str = "") -> dict:
    args = ["--workload", workload, "--seed", "7", "--seconds", SECONDS,
            "--trace", str(trace)]
    code = (f"import sys\nsys.path.insert(0, {ROOT!r})\n{SMALL.format(workload)}{patch}"
            f"from perfbench import run\nsys.exit(run.main({args!r}))\n")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def test_declared_metrics_match_code():
    assert _declared("end_to_end") == metrics.END_TO_END
    assert _declared("per_layer") == metrics.PER_LAYER


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed7.json")
        with open(path) as f:
            spans = json.load(f)["spans"]
        assert any("spark" in s for s in spans)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_check_rejects_altered_result(workload):
    out = _run(workload, 0, ALTER[workload])
    assert out["correct"] is False and out["failed"] >= 1


def test_mismatch_tolerates_only_float_noise():
    want = pd.DataFrame({"k": ["a", "b"], "ts": pd.to_datetime(["2024-01-01", "2024-01-02"]),
                         "x": [1.0, 2.0]})
    assert check.mismatch(want.iloc[::-1], want) is None
    assert check.mismatch(want.assign(x=[1.0 + 1e-13, 2.0]), want) is None
    assert check.mismatch(want.assign(x=[1.001, 2.0]), want)
    assert check.mismatch(want.assign(k=["a", "c"]), want)
    assert check.mismatch(want.iloc[1:], want)
