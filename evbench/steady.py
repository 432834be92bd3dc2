#!/usr/bin/env python3
"""Steadiness check: run a workload under several seeds and report, per
end-to-end metric, the interquartile range of the runs as a share of
their median, against the bound in BENCHMARK.json.

    python3 evbench/steady.py --workload evidence_serial --seeds 1-10 [--out FILE]

Run from the root of a checkout. A metric is steady when its spread stays
under a third of its bound (setup_s is reported but has no spread gate).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values, runs = {}, []
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        if p.returncode != 0:
            sys.exit(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": s, **res})
        if not res["correct"] or res["failed"]:
            sys.exit(f"seed {s}: incorrect result {res}\n{p.stderr[-2000:]}")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    rows = []
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / q2
        steady = m["name"] == "setup_s" or spread < m["bound"] / 3
        rows.append({"metric": m["name"], "median": q2, "spread": spread, "bound": m["bound"],
                     "steady": steady})
        print(f"{m['name']:20s} median {q2:12.4f}  IQR/median {spread:7.4f}  bound {m['bound']:.3f}"
              f"  {'ok' if steady else 'UNSTEADY'}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "summary": rows, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main()
