"""Smoke test of the benchmark itself, on tiny inputs.

    python3 perfbench/smoke.py [--seconds 3]

For each workload: an untraced run must pass the oracle and print every
end-to-end metric; a traced run must print every per-layer metric; a
run with one expected row perturbed must report failures (the oracle
can fail).  Exits 1 on the first problem.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import run as bench

HUMAN = {  # printed in the table, outside the JSON gate
    "replicate": ("lag_p90_ms", "lag_p99_ms", "read_p50_ms",
                  "catchup_read_p50_ms", "read_retries", "failed_ops_ratio"),
    "push_tail": ("lag_p90_ms", "lag_p99_ms", "failed_ops_ratio"),
}


def _run(workload: str, seconds: str, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", seconds,
           "--size", "tiny", *extra]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=240)
    if res.returncode != 0:
        raise SystemExit(f"FAIL {workload} {extra}: exit {res.returncode}")
    lines = res.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seconds", default="3")
    args = p.parse_args()
    for wl in sorted(bench.SIZES["tiny"]):
        for trace, names in (("0", bench.E2E), ("1", bench.LAYER)):
            out, table = _run(wl, args.seconds, "--trace", trace)
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                raise SystemExit(f"FAIL {wl} trace={trace}: {out}")
            if set(out["metrics"]) != set(names):
                raise SystemExit(f"FAIL {wl} trace={trace}: metrics "
                                 f"{sorted(set(names) ^ set(out['metrics']))}")
            missing = [n for n in HUMAN[wl] if f" {n} " not in table]
            if missing:
                raise SystemExit(f"FAIL {wl} trace={trace}: table lacks {missing}")
            print(f"ok   {wl} trace={trace} attempted={out['attempted']}")
        out, _ = _run(wl, args.seconds, "--trace", "0", "--perturb")
        if out["correct"] or out["failed"] < 1:
            raise SystemExit(f"FAIL {wl} negative check passed: {out}")
        print(f"ok   {wl} negative check failed={out['failed']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
