#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workloads a,b]

Runs every workload of BENCHMARK.json once per seed (seeds first-seed,
first-seed+1, ...), then prints per metric the median and the distance
between the first and third quartiles as a share of the median, next to
the metric's bound. Exits 1 when a spread exceeds its bound or a run
fails. Raw results go to perfbench/.work/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = a.workloads.split(",") if a.workloads else [
        w["name"] for w in spec["workloads"]]
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    log = open(os.path.join(HERE, ".work", "steady.jsonl"), "a")
    ok = True
    for w in names:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            summary = [json.loads(l[len("# summary "):]) for l in lines
                       if l.startswith("# summary ")]
            log.write(json.dumps({"workload": w, "seed": seed,
                                  "exit": proc.returncode, "result": result,
                                  "summary": summary[0] if summary else None})
                      + "\n")
            log.flush()
            if proc.returncode != 0 or not result.get("correct"):
                print(f"{w} seed {seed}: exit {proc.returncode} {result}")
                ok = False
                continue
            for k, v in result["metrics"].items():
                values[k].append(v["value"])
        for m in spec["end_to_end"]:
            vs = values[m["name"]]
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            flag = ""
            if spread > m["bound"]:
                flag, ok = "  OVER BOUND", False
            elif spread > m["bound"] / 3:
                flag = "  above a third of the bound"
            print(f"{w:12s} {m['name']:18s} median {med:12.4f} {m['unit']:5s} "
                  f"spread {spread:6.3f} bound {m['bound']:.2f}{flag}")
        sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
