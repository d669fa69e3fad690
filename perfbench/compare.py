#!/usr/bin/env python3
"""A/B comparison of two versions of the engine on this benchmark.

Collect alternating pairs (pair i runs both sides with seed i; the side
that runs first alternates), appending one JSON line per run:

    python3 perfbench/compare.py run --base <checkout> --change <checkout> \\
        --pairs 10 --out ab.jsonl [--workload NAME ...]

Report every end-to-end metric on every workload:

    python3 perfbench/compare.py report ab.jsonl

For each (workload, metric) the report gives each side's median and
quartiles and the pairs the change won (ties count for neither side), and
a verdict:
  gain        the change won at least nine tenths of the pairs and the
              medians differ by more than the base's own quartile spread;
  regression  the change's median is worse than the base's by more than
              the metric's bound in BENCHMARK.json;
  unresolved  the base's quartile spread, as a share of its median, is
              wider than the bound, and not every change run beats every
              base run;
  same        none of the above.
A report with any regression exits 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def bench_spec(path):
    return json.load(open(os.path.join(path, "BENCHMARK.json")))


def run(args):
    spec = bench_spec(args.base)
    names = args.workload or [w["name"] for w in spec["workloads"]]
    with open(args.out, "a") as out:
        for i in range(args.pairs):
            sides = [("base", args.base), ("change", args.change)]
            if i % 2:
                sides.reverse()
            for name in names:
                for side, path in sides:
                    cmd = ["python3", "perfbench/run.py", "--workload", name, "--seed",
                           str(i + 1), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
                    r = subprocess.run(cmd, cwd=path, stdout=subprocess.PIPE, text=True)
                    lines = r.stdout.strip().splitlines()
                    res = json.loads(lines[-1]) if lines else None
                    out.write(json.dumps({"side": side, "workload": name, "seed": i + 1,
                                          "pair": i, "exit": r.returncode, "result": res}) + "\n")
                    out.flush()
                    print(f"pair {i} {name} {side}: exit {r.returncode}", file=sys.stderr)


def report(args):
    rows = [json.loads(l) for f in args.files for l in open(f) if l.strip()]
    spec = bench_spec(args.bench)
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    regressions = 0
    for name in sorted({r["workload"] for r in rows}):
        print(f"== {name}")
        runs = [r for r in rows if r["workload"] == name and r["result"]]
        bad = [r for r in rows if r["workload"] == name and (not r["result"] or r["exit"])]
        if bad:
            print(f"   {len(bad)} runs failed or gave no result")
        for m, info in metrics.items():
            lower = info["better"] == "lower"
            val = {side: {r["pair"]: r["result"]["metrics"][m]["value"] for r in runs
                          if r["side"] == side and m in r["result"]["metrics"]}
                   for side in ("base", "change")}
            if not val["base"] or not val["change"]:
                continue
            b = sorted(val["base"].values())
            c = sorted(val["change"].values())
            bq1, bmed, bq3 = quartiles(b)
            cq1, cmed, cq3 = quartiles(c)
            pairs = sorted(set(val["base"]) & set(val["change"]))
            wins = sum(1 for p in pairs if (val["change"][p] < val["base"][p]) == lower
                       and val["change"][p] != val["base"][p])
            spread = (bq3 - bq1) / bmed if bmed else 0.0
            worse = (cmed - bmed) / bmed * (1 if lower else -1) if bmed else 0.0
            dominates = (max(c) < min(b)) if lower else (min(c) > max(b))
            if pairs and wins >= 0.9 * len(pairs) and abs(cmed - bmed) > bq3 - bq1:
                verdict = "gain"
            elif worse > info["bound"]:
                verdict = "regression"
                regressions += 1
            elif spread > info["bound"] and not dominates:
                verdict = "unresolved"
            else:
                verdict = "same"
            print(f"   {m:16s} base {bmed:12.4f} [{bq1:.4f}, {bq3:.4f}]  "
                  f"change {cmed:12.4f} [{cq1:.4f}, {cq3:.4f}] {info['unit']:6s} "
                  f"wins {wins}/{len(pairs)}  {verdict}")
    return regressions


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--base", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--workload", action="append")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("files", nargs="+")
    p.add_argument("--bench", default=os.path.dirname(HERE),
                   help="checkout whose BENCHMARK.json gives the bounds")
    a = ap.parse_args()
    if a.cmd == "run":
        run(a)
    else:
        sys.exit(1 if report(a) else 0)


if __name__ == "__main__":
    main()
