#!/usr/bin/env python3
"""Paired A/B runs of one perfbench workload in two checkouts.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload W --seeds A-B

For each seed in A..B (inclusive) it runs `python3 perfbench/run.py
--workload W --seed S --seconds N --trace 0` once in each checkout, one
after the other, with N the `run_seconds` of the change's BENCHMARK.json;
the side that runs first alternates from seed to seed (the parent first
on even seeds). Each run uses the checkout's own perfbench/; this script
only invokes run.py.

For every end-to-end metric of the change's BENCHMARK.json it prints
each side's median and quartiles, the number of pairs the change wins,
and whether the gain rule holds: the change is better in at least 9 of
every 10 pairs, and the medians differ by more than the parent's
interquartile range. Host CPU steal during each run (from /proc/stat,
where available) is printed beside it.

Exits 1 if any run fails or reports an incorrect op, 2 on bad usage.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path

RUN_TIMEOUT_S = 400


def cpu_times():
    """(steal, total) jiffies of the host, or None off Linux."""
    try:
        f = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    except OSError:
        return None
    v = [int(x) for x in f[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v[:8])


def run_one(checkout, workload, seed, seconds):
    """One run.py invocation; returns its result dict plus host steal."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    before = cpu_times()
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"ok": False, "error": f"timed out after {RUN_TIMEOUT_S} s"}
    after = cpu_times()
    steal = None
    if before and after and after[1] > before[1]:
        steal = (after[0] - before[0]) / (after[1] - before[1])
    result = None
    for line in p.stdout.splitlines():
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
    if p.returncode != 0 or result is None:
        tail = (p.stderr or p.stdout).strip().splitlines()[-3:]
        return {"ok": False, "error": f"exit {p.returncode}: {' | '.join(tail)}", "steal": steal}
    ok = bool(result.get("correct")) and result.get("failed", 1) == 0
    return {"ok": ok, "steal": steal,
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def seed_range(s):
    a, _, b = s.partition("-")
    lo, hi = int(a), int(b or a)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {s}")
    return range(lo, hi + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="A-B, inclusive")
    a = ap.parse_args()
    for d in (a.parent, a.change):
        if not (d / "perfbench" / "run.py").is_file():
            ap.error(f"{d} has no perfbench/run.py")
    bench = json.loads((a.change / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {a.workload}")
    e2e = bench["end_to_end"]

    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    bad = []
    for seed in a.seeds:
        order = ("parent", "change") if seed % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_one(sides[side], a.workload, seed, bench["run_seconds"])
            runs[side].append(r)
            m = r.get("metrics", {})
            steal = "-" if r.get("steal") is None else f"{r['steal']:.3f}"
            print(f"seed {seed} {side:6s} ok={r['ok']} steal={steal} "
                  + " ".join(f"{k}={m[k]:.4g}" for k in sorted(m))
                  + ("" if r["ok"] else f" error={r.get('error', 'incorrect op')}"),
                  flush=True)
            if not r["ok"]:
                bad.append((seed, side))

    print(f"\n{a.workload}: {len(a.seeds)} pairs (parent first on even seeds)")
    print(f"{'metric':18s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s} "
          f"{'delta':>8s} {'wins':>6s} gain")
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p["metrics"][name], c["metrics"][name])
                 for p, c in zip(runs["parent"], runs["change"])
                 if p["ok"] and c["ok"]]
        if not pairs:
            print(f"{name:18s} no complete pairs")
            continue
        ps, cs = [x for x, _ in pairs], [y for _, y in pairs]
        pq, cq = quartiles(ps), quartiles(cs)
        wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        holds = wins >= math.ceil(0.9 * len(pairs)) and gap > pq[2] - pq[0]
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        print(f"{name:18s} {pq[0]:9.4g}/{pq[1]:8.4g}/{pq[2]:9.4g} "
              f"{cq[0]:9.4g}/{cq[1]:8.4g}/{cq[2]:9.4g} {delta:+8.1%} "
              f"{wins:>3d}/{len(pairs):<2d} {'yes' if holds else 'no'}")
    if bad:
        print(f"\nfailed or incorrect runs: {bad}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
