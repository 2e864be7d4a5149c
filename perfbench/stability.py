"""Runs a workload once per seed and reports, for every metric of the
final JSON line, the median, the quartiles and the quartile spread as a
share of the median (Python's statistics.quantiles, n=4).

    python3 perfbench/stability.py --workload serve-warm --seeds 1-10 [--trace 1] [run.py flags]

Results are also written to .bench_build/perfbench/stability-<workload>-trace<t>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default=None)
    p.add_argument("--trace", default="0")
    a, extra = p.parse_known_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = a.seconds or str(spec["run_seconds"])
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", seconds, "--trace", a.trace] + extra,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = r.stdout.splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {s}: failed (exit {r.returncode})")
            continue
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = s, wall
        res["lines"] = [l for l in lines[:-1] if l.startswith(("metric ", "layer ", "split ", "self "))]
        runs.append(res)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {s}: wall {wall:.1f}s correct={res['correct']} failed={res['failed']}/{res['attempted']} {vals}",
              flush=True)
    out = {"workload": a.workload, "trace": a.trace, "runs": runs, "summary": {}}
    names = runs[0]["metrics"].keys() if runs else []
    for n in names:
        xs = [r["metrics"][n]["value"] for r in runs if n in r["metrics"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        out["summary"][n] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "n": len(xs)}
        print(f"{n:28s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  spread {spread:7.2%}")
    path = os.path.join(".bench_build", "perfbench", f"stability-{a.workload}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
