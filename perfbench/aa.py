"""A/A steadiness check: two sets of benchmark runs of the same checkout.

    python3 perfbench/aa.py [--runs 10] [--sets 2] [--workloads a,b] [--out FILE]

Each set runs every workload ``--runs`` times, each run with its own seed,
through ``run.py`` exactly as BENCHMARK.json's command does. For every
end-to-end metric and workload it prints each set's median and quartiles
and the spread (quartile distance over the median). With two sets it also
prints how far the second set's median moved, in the worse direction, as a
share of the first's, and whether both stay within the metric's bound
(the spread of ``setup_s`` is reported but not held to its bound). Runs
that fail, or that warn of a competing Spark job, are listed.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    rec = {"workload": workload, "seed": seed, "exit": proc.returncode,
           "wall_s": round(time.time() - t0, 2),
           "polluted": "competing Spark job" in proc.stderr}
    host = re.search(r"host: steal ([0-9.]+)%.*?CPU probe ([0-9.]+) s before and ([0-9.]+) s after",
                     proc.stderr)
    if host:
        rec["steal_pct"] = float(host.group(1))
        rec["cpu_probe_s"] = [float(host.group(2)), float(host.group(3))]
    detail = re.search(r"seed=\d+ passes=.*", proc.stderr)
    if detail:
        rec["detail"] = detail.group(0)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        rec["error"] = proc.stderr[-2000:]
        return rec
    rec.update(correct=result["correct"], attempted=result["attempted"],
               failed=result["failed"],
               metrics={k: v["value"] for k, v in result["metrics"].items()})
    return rec


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
            "n": len(values)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="write every run and the summary here as JSON")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    runs = []
    seed = args.first_seed
    for s in range(args.sets):
        for _ in range(args.runs):
            for w in workloads:
                rec = run_once(bench, w, seed)
                rec["set"] = s
                runs.append(rec)
                print("set {} {:14s} seed {:3d} exit {} wall {:6.1f}s steal {}% probe {} {}".format(
                    s, w, seed, rec["exit"], rec["wall_s"], rec.get("steal_pct"),
                    rec.get("cpu_probe_s"),
                    {k: round(v, 4) for k, v in rec.get("metrics", {}).items()}),
                    flush=True)
            seed += 1

    summary = {}
    ok = True
    print("\n{:14s} {:12s} {:>3s} {:>12s} {:>12s} {:>12s} {:>7s} {:>7s} {:>6s}".format(
        "workload", "metric", "set", "median", "q1", "q3", "spread", "moved", "bound"))
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = []
            for s in range(args.sets):
                vals = [r["metrics"][name] for r in runs
                        if r["workload"] == w and r["set"] == s and "metrics" in r]
                sets.append(summarize(vals) if len(vals) >= 2 else None)
            moved = None
            if args.sets == 2 and sets[0] and sets[1]:
                a, b = sets[0]["median"], sets[1]["median"]
                moved = (b - a) / a if m["better"] == "lower" else (a - b) / a
            within = (moved is None or moved <= bound) and all(
                st and (name == "setup_s" or st["spread"] <= bound) for st in sets)
            ok &= within
            summary.setdefault(w, {})[name] = {"sets": sets, "moved": moved,
                                               "bound": bound, "within_bound": within}
            for s, st in enumerate(sets):
                if st is None:
                    print("{:14s} {:12s} {:>3d}  (too few results)".format(w, name, s))
                    continue
                print("{:14s} {:12s} {:>3d} {:12.5g} {:12.5g} {:12.5g} {:7.3f} {:>7s} {:6.2f}{}".format(
                    w, name, s, st["median"], st["q1"], st["q3"], st["spread"],
                    "" if moved is None or s == 0 else "{:.3f}".format(moved), bound,
                    "" if s < len(sets) - 1 else ("  ok" if within else "  OUT OF BOUND")))
    bad = [r for r in runs if r["exit"] != 0 or not r.get("correct") or r["polluted"]]
    for r in bad:
        print("run {} seed {}: exit {} correct {} polluted {}".format(
            r["workload"], r["seed"], r["exit"], r.get("correct"), r["polluted"]))
    agree = ok and not bad
    print("\nA/A {}: every end-to-end metric {} within its bound".format(
        "PASS" if agree else "FAIL", "stays" if agree else "does not stay"))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"runs": runs, "summary": summary, "pass": agree}, fh, indent=1)
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
