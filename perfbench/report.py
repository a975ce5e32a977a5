"""Print the whole benchmark for one seed: every end-to-end metric by name
and unit for each workload, the per-layer table of a traced run, and the
tracing overhead (traced against untraced run of the same seed).

    python3 perfbench/report.py [--seed 1] [--seconds N]

Each run is a fresh ``perfbench/run.py`` process, exactly as
BENCHMARK.json's command runs it; ``--seconds`` defaults to
``run_seconds`` in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: float, trace: int):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=REPO, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace} exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    table = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) == 3:
            try:
                table[parts[0]] = float(parts[1])
            except ValueError:
                pass
    return json.loads(lines[-1]), lines[:-1], table


def main(argv=None) -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args(argv)

    names = [w["name"] for w in bench["workloads"]]
    plain, traced = {}, {}
    for w in names:
        plain[w] = _run(w, args.seed, args.seconds, 0)
        traced[w] = _run(w, args.seed, args.seconds, 1)

    print(f"end-to-end metrics (seed {args.seed}, untraced runs)")
    print(f"  {'metric':18s} {'unit':6s} " + " ".join(f"{w:>14s}"
                                                     for w in names))
    for m in bench["end_to_end"]:
        vals = " ".join(f"{plain[w][0]['metrics'][m['name']]['value']:14.5g}"
                        for w in names)
        print(f"  {m['name']:18s} {m['unit']:6s} {vals}")
    for w in names:
        res = plain[w][0]
        print(f"  {w}: correct={res['correct']} attempted={res['attempted']}"
              f" failed={res['failed']}")

    for w in names:
        res, lines, table = traced[w]
        print(f"\nper-layer metrics, {w} (traced run: correct="
              f"{res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']})")
        start = next(i for i, l in enumerate(lines) if "per-layer" in l)
        for line in lines[start + 1:]:
            print(line)
        a, b = plain[w][2], table
        print(f"  tracing overhead on {w}: timed wall "
              f"{a['timed_wall_s']:.3f} s untraced vs "
              f"{b['timed_wall_s']:.3f} s traced "
              f"({100 * (b['timed_wall_s'] / a['timed_wall_s'] - 1):+.1f}%); "
              f"op_p50_gmean_s {a['op_p50_gmean_s']:.4f} vs "
              f"{b['op_p50_gmean_s']:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
