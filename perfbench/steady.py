#!/usr/bin/env python3
"""Steadiness report: run each workload with several seeds and print,
for every end-to-end metric, its median and quartiles against the bound
in BENCHMARK.json. Unsteady metrics are flagged, not hidden.

    python3 perfbench/steady.py --runs 10 --out set1.json
    python3 perfbench/steady.py --runs 10 --compare set1.json
    python3 perfbench/steady.py --runs 10 --compare parent.json --one-sided

A metric's spread is (Q3 - Q1) / median over the runs, with the
quartiles of statistics.quantiles(values, n=4). It is flagged UNSTEADY
above its bound and NOISY above a third of it. The wall-clock times
run.py reports only in its summary line (pipeline_s, query_p50_s,
query_p90_s) are listed too, marked "not gated". With --compare, each
median is also checked against the earlier set's. Two sets of the same
code must agree: DISAGREE when a median moved either way by more than
the bound. With --one-sided (the earlier set is the parent's code),
only a move the wrong way counts: WORSE.

The line before each run's result (run.py's summary) is kept in the
--out file, so a slow run can be matched with the host's steal ticks.
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate()
    finally:  # on SIGTERM/SIGINT, stop the run (it stops its JVM)
        if p.poll() is None:
            p.terminate()
            p.wait()
    lines = out.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return None, None
    return json.loads(lines[-1]), json.loads(lines[-2])


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--compare")
    ap.add_argument("--one-sided", action="store_true")
    args = ap.parse_args()
    earlier = json.load(open(args.compare)) if args.compare else {}
    report, bad = {}, 0
    for w in args.workloads.split(","):
        gated = {m["name"] for m in bench["end_to_end"]}
        vals, failures, summaries = {m["name"]: [] for m in bench["end_to_end"]}, [], []
        wall = {}
        for k in range(args.runs):
            seed = args.seed0 + k
            r, summary = run_once(w, seed, bench["run_seconds"])
            summaries.append(summary)
            if r is None or not r["correct"]:
                failures.append(seed)
            if r is None:
                continue
            for name in vals:
                vals[name].append(r["metrics"][name]["value"])
            for name, v in summary["end_to_end"].items():
                if name not in gated:
                    wall.setdefault(name, []).append(v)
            print(f"{w} seed {seed}: " + " ".join(
                f"{n}={v[-1]:.4g}" for n, v in vals.items()), flush=True)
        report[w] = {"failed_seeds": failures, "metrics": {}, "runs": summaries}
        print(f"\n== {w}: {args.runs} runs, failed or incorrect seeds: {failures or 'none'}")
        print(f"{'metric':14} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}  flag")
        for m in bench["end_to_end"]:
            v = vals[m["name"]]
            if len(v) < 2:
                print(f"{m['name']:14} too few runs")
                bad += 1
                continue
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            flag = ("UNSTEADY" if spread > m["bound"] else
                    "NOISY" if spread > m["bound"] / 3 else "ok")
            bad += flag == "UNSTEADY"
            prev = earlier.get(w, {}).get("metrics", {}).get(m["name"])
            if prev:
                move = (med - prev["median"]) / prev["median"]
                if args.one_sided:
                    off = move > m["bound"] if m["better"] == "lower" else -move > m["bound"]
                else:
                    off = abs(move) > m["bound"]
                flag += f" vs earlier {move:+.1%}"
                flag += (" WORSE" if args.one_sided else " DISAGREE") if off else ""
                bad += off
            print(f"{m['name']:14} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                  f"{spread:7.1%} {m['bound']:6.2f}  {flag}")
            report[w]["metrics"][m["name"]] = {
                "median": med, "q1": q1, "q3": q3, "spread": spread,
                "values": v}
        for name, v in wall.items():
            if len(v) >= 2:
                q1, med, q3 = statistics.quantiles(v, n=4)
                print(f"{name:14} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                      f"{(q3 - q1) / med if med else 0:7.1%}      -  not gated")
        bad += bool(failures)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
