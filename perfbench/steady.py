#!/usr/bin/env python3
"""Steadiness check: runs each workload repeatedly, one seed per run, and
prints for every end-to-end metric its median, quartiles and quartile spread
(as a share of the median) next to the bound in BENCHMARK.json.

    python3 perfbench/steady.py                      # 10 runs of every workload, seeds 1-10
    python3 perfbench/steady.py --runs 5 --workloads text_dedup
    python3 perfbench/steady.py --compare A.json B.json

Run from the checkout root. Raw results go to <build dir>/steady/; pass two
of those files to --compare to check the second set's medians against the
first's within each bound, as a regression gate would. `setup_s` is one cold
set-up per run, so its spread is printed but not gated; its median is.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def load_spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def cpu_ticks():
    """(steal, total) ticks of all CPUs from /proc/stat, or None off Linux:
    time the hypervisor gave this machine's CPUs to others."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def run_once(spec, workload, seed):
    cmd = list(spec["command"]) + ["--workload", workload, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0, c0 = time.time(), cpu_ticks()
    p = subprocess.run(cmd, capture_output=True, text=True)
    wall, c1 = time.time() - t0, cpu_ticks()
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    if c0 and c1 and c1[1] > c0[1]:
        res["steal_share"] = (c1[0] - c0[0]) / (c1[1] - c0[1])
    return res


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(spec, results):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w, runs in results.items():
        shares = sorted({r["failed"] / r["attempted"] for r in runs})
        walls = [r["wall_s"] for r in runs]
        steal = [r["steal_share"] for r in runs if "steal_share" in r]
        print(f"\n{w}: {len(runs)} runs, failed share {shares}, correct {all(r['correct'] for r in runs)}, "
              f"run wall {min(walls):.0f}-{max(walls):.0f} s"
              + (f", CPU steal {min(steal):.1%}-{max(steal):.1%}" if steal else ""))
        print(f"  {'metric':<20} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  ")
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            b = bounds[m["name"]]
            flag = "ok" if sp < b / 3 else ("wide" if sp <= b else "OVER")
            # setup_s is one cold set-up per run, not a median over calls:
            # its spread is shown, and its median is gated by --compare
            if m["name"] == "setup_s":
                flag += " (not gated)"
            elif sp > b:
                ok = False
            print(f"  {m['name']:<20} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {sp:>8.3f} {b:>6}  {flag}")
    return ok


def compare(spec, a, b):
    ok = True
    for w in a:
        print(f"\n{w}")
        for m in spec["end_to_end"]:
            ma = statistics.median(r["metrics"][m["name"]]["value"] for r in a[w])
            mb = statistics.median(r["metrics"][m["name"]]["value"] for r in b[w])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            flag = "ok" if worse <= m["bound"] else "WORSE"
            ok &= worse <= m["bound"]
            print(f"  {m['name']:<20} {ma:>12.5g} {mb:>12.5g} worse by {worse:+.3f} (bound {m['bound']}) {flag}")
        fa = sorted({r["failed"] / r["attempted"] for r in a[w]})
        fb = sorted({r["failed"] / r["attempted"] for r in b[w]})
        # fewer failed operations is a fix, not a regression
        print(f"  failed share {fa} vs {fb} {'ok' if max(fb) <= max(fa) else 'MORE FAILED'}")
        ok &= max(fb) <= max(fa)
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    a = ap.parse_args()
    spec = load_spec()
    if a.compare:
        sets = []
        for path in a.compare:
            with open(path) as f:
                sets.append(json.load(f))
        return 0 if compare(spec, *sets) else 1

    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    results = {w: [] for w in workloads}
    for i in range(a.runs):
        for w in workloads:
            results[w].append(run_once(spec, w, i + 1))
            print(f"[steady] {w} seed {i + 1} done", file=sys.stderr)
    out = os.path.join(build.build_dir(), "steady", time.strftime("%Y%m%d-%H%M%S") + ".json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(results, f)
    print(f"raw results: {out}")
    return 0 if report(spec, results) else 1


if __name__ == "__main__":
    sys.exit(main())
