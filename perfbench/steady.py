"""Steadiness check: two sets of runs of the same commit, per workload.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--trace]

Runs ``BENCHMARK.json``'s command ``--runs`` times per workload in
each of two sets, each run with another seed (seeds 1 to ``--runs``
in both sets), and prints per end-to-end metric: each set's median
and quartiles, the spread (interquartile range / median, as
``statistics.quantiles(n=4)`` gives the quartiles), the drift of the
second set's median from the first set's, and whether every spread
and the drift's size stay within the metric's bound. With ``--trace``
it also makes one traced run per workload and reports the tracing
overhead: the traced run's CPU time per operation against the
untraced median of the first set.
Exits 1 if any run fails its correctness check or a bound is missed.
Run it from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

SETS = 2
FIRST_SEED = 1


def run_once(cmd: list[str], workload: str, seed: int, seconds: int, trace: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(args, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(args)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma-separated; default all")
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seeds = list(range(FIRST_SEED, FIRST_SEED + a.runs))
    ok = True
    for name in names:
        sets: list[dict[str, list[float]]] = []
        walls: list[float] = []
        for k in range(SETS):
            values: dict[str, list[float]] = {}
            for seed in seeds:
                start = time.monotonic()
                res = run_once(bench["command"], name, seed, bench["run_seconds"], 0)
                walls.append(time.monotonic() - start)
                if not res["correct"] or res["failed"]:
                    ok = False
                    print(f"{name} set {k + 1} seed {seed}: INCORRECT {res}", flush=True)
                for m, v in res["metrics"].items():
                    values.setdefault(m, []).append(v["value"])
                print(f"{name} set {k + 1} seed {seed} ({walls[-1]:.0f} s): " + ", ".join(
                    f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()), flush=True)
            sets.append(values)
        print(f"\n== {name}: {a.runs} runs x {SETS} sets, "
              f"median run {statistics.median(walls):.0f} s, longest {max(walls):.0f} s")
        for metric in bench["end_to_end"]:
            m, bound = metric["name"], metric["bound"]
            sums = [summary(s[m]) for s in sets]
            drift = (sums[-1]["median"] - sums[0]["median"]) / sums[0]["median"]
            spread_ok = all(s["spread"] <= bound for s in sums)
            verdict = "ok" if spread_ok and abs(drift) <= bound else "MISS"
            ok &= verdict == "ok"
            cells = "  ".join(
                f"set{i + 1} med={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} "
                f"spread={s['spread']:.3f}" for i, s in enumerate(sums)
            )
            print(f"  {m:12s} [{metric['unit']}] bound={bound}  {cells}  "
                  f"drift={drift:+.3f}  {verdict}")
        if a.trace:
            traced = run_once(bench["command"], name, seeds[0], bench["run_seconds"], 1)
            base = summary(sets[0]["op_cpu_ms"])["median"]
            op = traced["metrics"]["trace.op_cpu_ms"]["value"]
            print(f"  tracing overhead: traced op CPU {op:.4g} ms vs untraced "
                  f"{base:.4g} ms ({op / base - 1:+.3f})")
        print(flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
