"""Interleaved A/B of two checkouts with identical benchmark code.

    python3 perfbench/ab.py --base ../parent --change . --workload gpc_laplace_2k

Runs ``perfbench/run.py`` in the base and the change checkout alternately,
ten pairs, flipping which side goes first in every pair and giving both
sides the same seed, then prints per metric each side's median and quartiles, the share of
pairs the change won, and whether that counts as a gain: the change wins at
least nine tenths of the pairs and the medians differ by more than the base's
own quartile spread.  Both checkouts must hold byte-identical ``perfbench/``
files, so only the program differs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
SEEDS = range(1000, 1010)  # one pair per seed


def bench_digest(root: Path) -> str:
    h = hashlib.sha256()
    for f in sorted((root / "perfbench").rglob("*")):
        if f.is_file() and ".work" not in f.parts and "__pycache__" not in f.parts:
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def run_once(root: Path, workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{root}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError(f"{root}: output check failed on seed {seed}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", type=Path, required=True)
    p.add_argument("--change", type=Path, required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if bench_digest(args.base) != bench_digest(args.change):
        print("perfbench/ differs between the checkouts", file=sys.stderr)
        return 2

    specs = BENCH["end_to_end"] if args.trace == 0 else BENCH["per_layer"]
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    for i, seed in enumerate(SEEDS):
        order = [("base", args.base), ("change", args.change)]
        for side, root in order if i % 2 == 0 else order[::-1]:
            runs[side].append(run_once(root, args.workload, seed, BENCH["run_seconds"], args.trace))
            print(f"pair {i} {side} done", file=sys.stderr)

    for spec in specs:
        name, better = spec["name"], spec["better"]
        a = [r[name] for r in runs["base"]]
        b = [r[name] for r in runs["change"]]
        qa, qb = statistics.quantiles(a, n=4), statistics.quantiles(b, n=4)
        wins = sum((y < x) if better == "lower" else (y > x) for x, y in zip(a, b))
        ma, mb = statistics.median(a), statistics.median(b)
        gain = wins >= 0.9 * len(a) and abs(mb - ma) > qa[2] - qa[0]
        print(json.dumps({
            "metric": name, "unit": spec["unit"], "better": better,
            "base": {"median": ma, "q1": qa[0], "q3": qa[2]},
            "change": {"median": mb, "q1": qb[0], "q3": qb[2]},
            "change_wins": f"{wins}/{len(a)}", "gain": gain,
            "ratio_change_over_base": mb / ma if ma else None,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
