#!/usr/bin/env python3
"""Steadiness check: runs BENCHMARK.json's command over several seeds and
reports spreads.

    python3 perfbench/steady.py --seeds 1-10 --workloads clips,json_cli,neardup \
        --out steady.jsonl

For each end-to-end metric and workload it prints the median and the
quartile spread (Q3 - Q1, from statistics.quantiles(values, n=4)) as a share
of the median, next to the metric's bound from BENCHMARK.json. Each run's
final JSON line and record are appended to --out.
"""
import argparse
import json
import os
import statistics
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--workloads", default="clips,json_cli,neardup")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in a.workloads.split(","):
        vals = {}
        for s in seeds(a.seeds):
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               cwd=os.path.dirname(HERE), capture_output=True, text=True)
            lines = p.stdout.splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
                continue
            res = json.loads(lines[-1])
            rec = next((json.loads(l[7:]) for l in lines if l.startswith("record ")), {})
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "result": res, "record": rec}) + "\n")
            print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']}/"
                  f"{res['attempted']} " + " ".join(
                      f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
            for k, m in res["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
        for k, v in vals.items():
            if len(v) < 2:
                continue
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            print(f"{w:9} {k:12} median={med:.5g} spread={(q[2] - q[0]) / med:.4f} "
                  f"bound={bounds.get(k)} n={len(v)}", flush=True)


if __name__ == "__main__":
    main()
