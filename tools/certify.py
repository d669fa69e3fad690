#!/usr/bin/env python3
"""Write CERTIFY.json: generated (never hand-typed) certification counts.

Counts come from three places:
  - `tools/jrun.sh graft.Certify` — registry size, oracle coverage, and
    plan-golden count, computed from the compiled tree at snapshot time;
  - the source tree — `src_main_loc`, the line count of every .scala
    file under src/main (what `find src/main -name '*.scala' | xargs cat
    | wc -l` prints);
  - the most recent full-suite log (pass a path containing scalatest's
    "Total number of tests run: N" / "succeeded N" lines via --suite-log)
    for the suite size, recorded with the log's mtime so a stale log is
    visible rather than silently certified.

Usage: python3 tools/certify.py [--suite-log PATH] [--out CERTIFY.json]
"""
import argparse
import datetime
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def src_main_loc():
    """Newlines in every src/main .scala file, as `cat | wc -l` counts them."""
    n = 0
    for d, _, files in os.walk(os.path.join(ROOT, "src", "main")):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), "rb") as fh:
                    n += fh.read().count(b"\n")
    return n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--suite-log", default=None)
    ap.add_argument("--out", default=os.path.join(ROOT, "CERTIFY.json"))
    args = ap.parse_args()

    raw = subprocess.run(
        [os.path.join(ROOT, "tools", "jrun.sh"), "graft.Certify"],
        capture_output=True, text=True, cwd=ROOT, check=True).stdout
    line = next(l for l in raw.splitlines() if l.startswith("{"))
    cert = json.loads(line)
    cert["src_main_loc"] = src_main_loc()

    if args.suite_log:
        text = open(args.suite_log, errors="replace").read()
        total = re.findall(r"Total number of tests run: (\d+)", text)
        succ = re.findall(r"succeeded (\d+)", text)
        failed = re.findall(r"succeeded \d+, failed (\d+)", text)
        if total:
            # a log holding more than one scalatest summary (per-module
            # sbt builds, an appended retry) must not silently inflate
            # the certified counts: take only the LAST pair — the final
            # full-suite run — and say so (ADVICE r13)
            if len(total) > 1:
                print(f"WARNING: {len(total)} scalatest summaries in "
                      f"{args.suite_log}; certifying only the last",
                      file=sys.stderr)
            cert["suite_total"] = int(total[-1])
            cert["suite_succeeded"] = int(succ[-1]) if succ else 0
            cert["suite_failed"] = int(failed[-1]) if failed else 0
            cert["suite_log_mtime"] = datetime.datetime.fromtimestamp(
                os.path.getmtime(args.suite_log)).isoformat(timespec="seconds")
        else:
            print(f"WARNING: no scalatest totals in {args.suite_log}",
                  file=sys.stderr)

    cert["generated_by"] = "tools/certify.py"
    with open(args.out, "w") as f:
        json.dump(cert, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(cert, sort_keys=True))


if __name__ == "__main__":
    main()
