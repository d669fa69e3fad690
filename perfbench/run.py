#!/usr/bin/env python3
"""Benchmark of the graft engine, end to end and layer by layer.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness
(perfbench/build.sbt, which compiles the engine sources with it); later
runs reuse the build while no source changed. Each run starts one fresh
engine JVM at local[<cores>] with as many shuffle partitions and the
tier-1 driver heap, in its own working directory and java.io.tmpdir
under perfbench/.work/, which is deleted afterwards.

The registry queries read the sf0.01 tables under perfbench/data; the
seed makes every other input (the query order, the dirty health CSV and
the dashboard's request stream). Set-up is timed from the engine JVM's
start to its first timed call.
With --trace 0 the last stdout line carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. Every output is
checked; a failed check counts in "failed", sets "correct" to false
and makes the exit code 1. `--workload all` runs every workload
untraced and traced, prints each one's metrics and the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def spark_jars():
    """The Spark jars the engine's own build compiles against: its
    `unmanagedBase`, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else os.path.join(os.environ["SPARK_HOME"], "jars")


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile the harness and the engine unless the last build saw the same
    sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a checkout")
    os.environ["PERFBENCH_SPARK_JARS"] = spark_jars()
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the harness and the engine (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"built in {time.time() - t0:.0f} s")


# ------------------------------------------------------------------ engine

def cores():
    return len(os.sched_getaffinity(0))


def driver_heap():
    """The tier-1 test driver heap: half the machine's memory, 2 to 8 GiB."""
    kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    return f"{min(max(kb // 2097152, 2), 8)}g"


STARTED = []  # engine processes, stopped on the way out whatever happens


def jvm(work, args, stdin=None):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jars = os.environ["PERFBENCH_SPARK_JARS"]
    cmd = (["java", *ADD_OPENS, f"-Xmx{driver_heap()}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", f"{CLASSES}:{jars}/*",
            "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()])
    err = open(os.path.join(work, "engine.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdin=stdin, stdout=subprocess.PIPE,
                         stderr=err, text=True)
    STARTED.append(p)
    return p


def finish(proc, work, deadline):
    try:
        proc.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("engine run timed out", 1)
    out = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "engine.log"), errors="replace").read()[-3000:]
        sys.stderr.write(tail)
        fail(f"engine exited with {proc.returncode}", 1)
    return json.load(open(out))


# --------------------------------------------------------------- workloads

def run_registry(spec, seed, trace, seconds, work):
    import checks
    data = os.path.join(HERE, "data", f"sf{spec['sf']}")
    names = list(spec["queries"])
    random.Random(seed).shuffle(names)
    t0 = time.time()
    p = jvm(work, dict(kind="registry", seed=seed, trace=trace, cpus=cores(),
                       out="result.json", data=data, queries=",".join(names)))
    res = finish(p, work, t0 + JVM_TIMEOUT_S)
    log(f"engine ran {time.time() - t0:.1f} s; checking against DuckDB")
    log("walls: " + ", ".join(f"{o['name']} {o['wall_s']:.2f} s" for o in res["ops"]))
    failures = checks.registry(res, data)
    res["layers"]["registry.query_p50_ms"] = statistics.median(
        o["wall_s"] for o in res["ops"]) * 1000
    return res, sum(o["wall_s"] for o in res["ops"]), len(res["ops"]), failures


def burst(seconds):
    """Blocks of the dashboard's 10-request mix: one per 10 s of run
    length, the 3 clients' requests queueing on the one dispatcher
    thread."""
    return max(1, round(seconds / 10))


def run_health(spec, seed, trace, seconds, work):
    import checks
    import datagen
    out = os.path.join(work, "out")
    os.makedirs(out)
    csv = os.path.join(work, "health.csv")
    acct = datagen.health_csv(csv, spec["rows"], seed)
    t0 = time.time()
    p = jvm(work, dict(kind="health", seed=seed, trace=trace, cpus=cores(),
                       out="result.json", csv=csv, outdir=out),
            stdin=subprocess.PIPE)
    line = p.stdout.readline()
    while line and not line.startswith("PERFBENCH_READY"):
        line = p.stdout.readline()
    if not line:
        finish(p, work, t0 + JVM_TIMEOUT_S)
        fail("the dashboard did not start", 1)
    reqs_file = os.path.join(work, "client.json")
    c = subprocess.run([sys.executable, os.path.join(HERE, "client.py"), "--port",
                        line.split()[1], "--seed", str(seed), "--blocks", str(burst(seconds)),
                        "--out", reqs_file],
                       timeout=JVM_TIMEOUT_S)
    p.stdin.write("STOP\n")
    p.stdin.close()
    res = finish(p, work, t0 + JVM_TIMEOUT_S)
    if c.returncode != 0:
        fail("dashboard client failed", 1)
    client = json.load(open(reqs_file))
    reqs = client["requests"]
    failures = checks.health(res, out, acct) + checks.dashboard(reqs)
    res["layers"]["dashboard.latency_p50_ms"] = statistics.median(
        r["latency_s"] for r in reqs) * 1000
    wall = sum(o["wall_s"] for o in res["ops"]) + client["wall_s"]
    log("walls: " + ", ".join(f"{o['name']} {o['wall_s']:.2f} s" for o in res["ops"])
        + f", dashboard burst {client['wall_s']:.2f} s")
    return res, wall, len(res["ops"]) + len(reqs), failures


RUNNERS = {"registry": run_registry, "health": run_health}


def run_one(name, seed, trace, seconds):
    spec = WORKLOADS[name]
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build()
    started = time.time()
    work = os.path.join(HERE, ".work", f"{name}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, wall_s, attempted, failures = RUNNERS[spec["kind"]](
            spec, seed, trace, seconds, work)
        failures += [f"{c['name']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
        for f in failures[:20]:
            log("FAILED", f)
        if trace:
            values = dict(res["layers"], **{"trace.wall_s": wall_s,
                                            "jvm.peak_rss_mb": res["peak_rss_mb"]})
            metrics = bench["per_layer"]
        else:
            values = {"setup_s": res["setup_s"], "wall_s": wall_s,
                      "heap_live_mb": res["heap_live_mb"]}
            metrics = bench["end_to_end"]
        out = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in metrics}
    finally:
        for p in STARTED:
            if p.poll() is None:
                p.kill()
                p.wait()
        shutil.rmtree(work, ignore_errors=True)
    log(f"done in {time.time() - started:.1f} s")
    result = {"correct": not failures, "attempted": attempted,
              "failed": min(len(failures), attempted), "metrics": out}
    print(json.dumps(result), flush=True)
    return result


def run_all(seed, seconds):
    """Every workload, untraced then traced, in fresh processes."""
    ok = True
    for name in WORKLOADS:
        got = {}
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", name, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            got[trace] = json.loads(lines[-1]) if lines else None
            ok = ok and r.returncode == 0
        print(f"== {name}")
        for trace in (0, 1):
            res = got[trace]
            if res is None:
                print("   (no result)")
                continue
            print(f"   trace={trace} correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}")
            for k, v in res["metrics"].items():
                print(f"   {k:28s} {v['value']:14.4f} {v['unit']}")
        if got[0] and got[1]:
            plain = got[0]["metrics"]["wall_s"]["value"]
            traced = got[1]["metrics"]["trace.wall_s"]["value"]
            print(f"   tracing overhead: {100 * (traced / plain - 1):+.1f}% of wall_s "
                  f"({plain:.3f} s untraced, {traced:.3f} s traced)")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10,
                    help="sizes the dashboard burst; the rest of the work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its engine and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload == "all":
        sys.exit(0 if run_all(a.seed, a.seconds) else 1)
    sys.exit(0 if run_one(a.workload, a.seed, a.trace, a.seconds)["correct"] else 1)


if __name__ == "__main__":
    main()
