#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py                      # span arithmetic only
    python3 perfbench/selftest.py --traced crawl_batch # plus one traced run

Fails (exit 1) when the traced run's ``trace.coverage`` is below
COVERAGE_MIN: time inside the traced run that no layer span accounts
for (driver-side planning, a write loop no span wraps) must show as
lost coverage rather than vanish. The arithmetic test checks that an
uncovered gap inside the root span does lower the coverage.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import Span, coverage, id_of, self_times  # noqa: E402

# measured on a 4-core host: 0.70-0.79 on both workloads
COVERAGE_MIN = 0.6


def expect(ok: bool, what: str) -> None:
    """A check that stays on under ``python -O``."""
    if not ok:
        raise AssertionError(what)


def check_arithmetic() -> None:
    root = Span("run", None, 0.0, 10.0)
    covered = [Span("curate", id_of(root), 0.0, 4.0), Span("reports", id_of(root), 4.0, 9.0)]
    expect(abs(coverage([root, *covered], "run") - 0.9) < 1e-9, "coverage of 9 s of 10")
    expect(abs(self_times([root, *covered])["run"] - 1.0) < 1e-9, "root self time")
    # a write loop outside every child span: 7 of 10 s untracked
    gap = [Span("curate", id_of(root), 0.0, 3.0)]
    expect(coverage([root, *gap], "run") < COVERAGE_MIN, "an untracked gap lowers coverage")
    # spans outside the root (layer replays) do not count towards it
    replay = Span("score", None, 20.0, 30.0)
    expect(coverage([root, *gap, replay], "run") < COVERAGE_MIN, "replays stay outside the root")


def check_traced(workload: str, seed: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "1"]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True,
                         timeout=600, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    cov = result["metrics"]["trace.coverage"]["value"]
    print(f"{workload}: trace.coverage {cov:.3f} (bound {COVERAGE_MIN}), correct {result['correct']}")
    expect(result["correct"], f"{workload}: traced run produced wrong output")
    expect(cov >= COVERAGE_MIN, f"{workload}: trace.coverage {cov:.3f} < {COVERAGE_MIN}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--traced", action="append", default=[], metavar="WORKLOAD")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    try:
        check_arithmetic()
        for w in args.traced:
            check_traced(w, args.seed)
    except AssertionError as e:
        print(f"selftest FAILED: {e}", file=sys.stderr)
        return 1
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
