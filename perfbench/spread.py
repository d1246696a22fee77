#!/usr/bin/env python3
"""Run a workload over several seeds and report each end-to-end metric's
spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload corpus_dedup --seeds 1-10
    python3 perfbench/spread.py --workload corpus_dedup --seeds 1-10 --trace 1

Spread is the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. Prints one
JSON object per run as it finishes, then a summary object; exits 1 if a
run failed or a spread (setup_s excepted) reaches a third of its bound.

With --trace 1 the summary holds the tracing overhead instead: per seed,
the traced run's freshness_p50_s over that of the untraced run of the same
seed and build, both read from the run reports; run the untraced seeds
first.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
RESULTS = ROOT / ".bench_build" / "work" / "results"


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def report(workload, seed, trace):
    f = RESULTS / f"{workload}-seed{seed}-trace{trace}.json"
    return json.loads(f.read_text()) if f.exists() else None


def overhead(workload, seeds):
    """Traced over untraced freshness_p50_s, per seed of the same build."""
    ratios = []
    for seed in seeds:
        plain, traced = report(workload, seed, 0), report(workload, seed, 1)
        if plain and traced and plain["host"]["source_hash"] == traced["host"]["source_hash"]:
            ratios.append(traced["end_to_end"]["freshness_p50_s"] / plain["end_to_end"]["freshness_p50_s"])
    if not ratios:
        return {}
    return {"trace_overhead_ratio": {"median": statistics.median(ratios), "n": len(ratios),
                                     "min": min(ratios), "max": max(ratios)}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    values, ok = {}, True
    for seed in seeds(a.seeds):
        t0 = time.time()
        res = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                                 "--seconds", str(bench["run_seconds"]),
                                                 "--trace", a.trace],
                             capture_output=True, text=True)
        line = res.stdout.strip().splitlines()[-1] if res.stdout.strip() else "null"
        result = json.loads(line)
        print(json.dumps({"seed": seed, "exit": res.returncode, "elapsed_s": round(time.time() - t0, 1),
                          "result": result}), flush=True)
        if res.returncode != 0 or not result:
            ok = False
            continue
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for m in bench["end_to_end"] if a.trace == "0" else []:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        summary[m["name"]] = {"median": med, "spread": spread, "bound": m["bound"], "n": len(xs)}
        if m["name"] != "setup_s" and spread >= m["bound"] / 3:
            ok = False
    if a.trace == "1":
        print(json.dumps({"workload": a.workload, "ok": ok, "overhead": overhead(a.workload, seeds(a.seeds))}))
    else:
        print(json.dumps({"workload": a.workload, "ok": ok, "spreads": summary}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
