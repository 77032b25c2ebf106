#!/usr/bin/env python3
"""Steadiness tooling: run the benchmark over several seeds, then compare
sets of runs against the bounds in BENCHMARK.json.

    # ten runs of one workload, seeds 1..10, results appended to a file
    python3 perfbench/steady.py run --workload etl_writes --seeds 1-10 --out a.json
    # spread of each end-to-end metric in one set, and (given two sets)
    # whether the second set's median is worse than the first's by more
    # than the metric's bound
    python3 perfbench/steady.py compare a.json [b.json]

The spread of a metric is the distance between the first and third
quartile of its values (``statistics.quantiles(values, n=4)``) as a share
of their median. ``compare`` exits 1 when a spread exceeds its metric's
bound, or a median moved the wrong way by more than its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def cmd_run(args) -> int:
    spec = load_spec()
    runs = []
    if os.path.exists(args.out):
        with open(args.out) as fh:
            runs = json.load(fh)
    for seed in parse_seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=600)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
               "exit": proc.returncode, "wall_s": wall}
        if proc.returncode == 0 and lines:
            rec["result"] = json.loads(lines[-1])
            if len(lines) > 1:
                rec["detail"] = json.loads(lines[-2]).get("detail")
        runs.append(rec)
        res = rec.get("result", {})
        brief = {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()
                 if k in ("setup_s", "pass_s", "key_geomean_s", "retained_mb", "trace.pass_s")}
        print(f"{args.workload} seed {seed}: exit {proc.returncode} wall {wall:.1f}s "
              f"correct {res.get('correct')} {brief}", flush=True)
        with open(args.out, "w") as fh:
            json.dump(runs, fh, indent=1)
    return 0


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def by_workload(runs: list[dict]) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = {}
    for r in runs:
        if r.get("trace") or "result" not in r:
            continue
        for name, m in r["result"]["metrics"].items():
            out.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    return out


def cmd_compare(args) -> int:
    spec = load_spec()
    sets = []
    for path in args.files:
        with open(path) as fh:
            sets.append(by_workload(json.load(fh)))
    ok = True
    for metric in spec["end_to_end"]:
        name, bound = metric["name"], metric["bound"]
        for wl in sorted(set().union(*sets)):
            row = [f"{wl:14s} {name:14s} bound {bound:.2f}"]
            meds = []
            for s in sets:
                vals = s.get(wl, {}).get(name, [])
                if len(vals) < 2:
                    row.append("  (too few runs)")
                    meds.append(None)
                    continue
                sp = spread(vals)
                med = statistics.median(vals)
                meds.append(med)
                flag = ""
                if sp > bound:
                    flag, ok = " SPREAD>BOUND", False
                elif sp > bound / 3:
                    flag = " (above bound/3)"
                row.append(f"  n={len(vals)} median {med:.4g} spread {sp:.3f}{flag}")
            if len(meds) == 2 and None not in meds:
                worse = (meds[1] - meds[0]) / meds[0]
                if metric["better"] == "higher":
                    worse = -worse
                row.append(f"  second vs first {worse:+.3f}")
                if worse > bound:
                    row.append(" WORSE>BOUND")
                    ok = False
            print("".join(row))
    # tracing overhead: traced pass time against the untraced one
    for path in args.files:
        with open(path) as fh:
            runs = json.load(fh)
        for wl in sorted({r["workload"] for r in runs}):
            traced = [r["result"]["metrics"]["trace.pass_s"]["value"] for r in runs
                      if r["workload"] == wl and r.get("trace") and "result" in r]
            plain = by_workload(runs).get(wl, {}).get("pass_s", [])
            if traced and plain:
                t, u = statistics.median(traced), statistics.median(plain)
                print(f"{wl:14s} tracing overhead: traced pass {t:.3f}s (n={len(traced)}) "
                      f"vs untraced {u:.3f}s (n={len(plain)}): {t / u - 1:+.1%}")
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("files", nargs="+")
    args = p.parse_args(argv)
    return cmd_run(args) if args.cmd == "run" else cmd_compare(args)


if __name__ == "__main__":
    sys.exit(main())
