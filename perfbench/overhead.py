"""Tracing overhead: traced minus untraced end-to-end metrics.

Runs one workload twice on the same seed, with ``--trace 0`` and with
``--trace 1``, and prints, per end-to-end metric, the traced value (from
the trace file), the untraced value and their difference. Usage, from
the repository root::

    python3 perfbench/overhead.py --workload serve --seed 1 --seconds 15
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", default="15")
    args = p.parse_args(argv)
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", args.seconds]
    untraced = subprocess.run([*cmd, "--trace", "0"], cwd=ROOT, check=True,
                              stdout=subprocess.PIPE, text=True)
    plain = json.loads(untraced.stdout.strip().splitlines()[-1])["metrics"]
    subprocess.run([*cmd, "--trace", "1"], cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
    with open(path) as f:
        traced = json.load(f)["end_to_end"]
    out = {name: {"traced": traced[name], "untraced": m["value"],
                  "overhead": traced[name] - m["value"], "unit": m["unit"]}
           for name, m in plain.items()}
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
