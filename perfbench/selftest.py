#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

Runs each workload with BENCHMARK.json's command for one second, clean and
with a deliberately wrong result injected, and asserts that the wrong result
is caught:

    python3 perfbench/selftest.py          # about eight minutes

- clips: one violation row dropped from the count;
- json_cli: one invalid document's violations removed (a flipped verdict),
  and one deep document's depth cut reported one level too shallow (off the
  known defect's signature);
- neardup: two planted clusters reported as one;
- every workload: an iteration that throws counts as failed and gives no
  time sample.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FAULTS = {"clips": ["drop_row"], "json_cli": ["flip_doc", "deep_doc"],
          "neardup": ["merge_clusters"]}

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    COMMAND = json.load(f)["command"]


def bench(workload, inject=""):
    cmd = COMMAND + ["--workload", workload, "--seed", "11", "--seconds", "1", "--trace", "0",
                     "--inject", inject]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} {inject}: exit {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.splitlines()
    record = json.loads(next(l for l in lines if l.startswith("record "))[len("record "):])
    samples = {l.split()[0]: int(l.split()[-1]) for l in lines
               if l.split() and l.split()[-1].isdigit()}
    return json.loads(lines[-1]), record, samples


def check(name, cond, detail):
    print(("ok   " if cond else "FAIL ") + name + ("" if cond else f": {detail}"), flush=True)
    return cond


def main():
    ok = True
    for w, faults in FAULTS.items():
        clean, rec, _ = bench(w)
        known = rec["known_failed"]
        ok &= check(f"{w} clean run is correct", clean["correct"], clean)
        if w == "json_cli":
            # every failure is the documented depth cut: one per deep document
            ok &= check("json_cli failures are exactly the deep documents",
                        clean["failed"] == known == rec["deep_docs"] * rec["iterations"],
                        (clean, rec))
        else:
            ok &= check(f"{w} clean run has no failure", clean["failed"] == 0, clean)
        for fault in faults:
            bad, brec, _ = bench(w, fault)
            # a fault either adds a failure or turns a known one unexpected
            ok &= check(f"{w} {fault} is caught",
                        bad["failed"] > brec["known_failed"] and not bad["correct"], (bad, brec))
        thrown, trec, samples = bench(w, "throw")
        ok &= check(f"{w} thrown iteration counts as failed",
                    trec["threw"] == 1 and not thrown["correct"] and thrown["failed"] >= 1, thrown)
        ok &= check(f"{w} thrown iteration gives no time sample",
                    samples["verdict_s"] == trec["iterations"] - 1, (samples, trec))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
