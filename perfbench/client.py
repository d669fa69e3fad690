#!/usr/bin/env python3
"""Closed-loop dashboard clients: each thread sends its next request only
after the previous answer arrived. The threads share one seeded
schedule of whole blocks of the request mix, so every run sends the
same mix: 80% are "/" with a Year and a Country filter each present
with probability 1/2, 20% are "/predict" with random what-if inputs.
Writes the burst's wall time and every request's latency and check
outcome as JSON.

    python3 perfbench/client.py --port P --seed N --blocks 1 --out f.json
"""
import argparse
import http.client
import json
import os
import random
import sys
import threading
import time
import urllib.parse

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402

CLIENTS = 3

# the cleaned names of the generated countries (datagen.COUNTRIES)
COUNTRIES = ["Nigeria", "Brazil", "China", "Mexico", "Russia", "Canada", "India",
             "Japan", "Argentina", "Indonesia", "Usa", "France", "Saudi Arabia",
             "Australia", "Germany", "Itl", "South Africa", "Turkey",
             "United Kingdom", "South Korea"]


# one block of the request mix: 2 of 10 are /predict, 8 are "/" split
# evenly over the four filter combinations (none, Year, Country, both),
# i.e. each filter present with probability 1/2
BLOCK = ["predict"] * 2 + [(y, c) for y in (0, 1) for c in (0, 1)] * 2


def schedule(seed, blocks):
    """Request paths: shuffled blocks of the mix, values from the seed."""
    rng = random.Random(seed)
    for _ in range(blocks):
        block = list(BLOCK)
        rng.shuffle(block)
        for kind in block:
            if kind == "predict":
                q = {"access": f"{rng.uniform(20, 100):.1f}",
                     "doctors": f"{rng.uniform(0.1, 5):.2f}",
                     "beds": f"{rng.uniform(0.2, 12):.2f}",
                     "cost": f"{rng.uniform(5, 12000):.0f}",
                     "income": f"{rng.uniform(450, 80000):.0f}"}
                yield "/predict?" + urllib.parse.urlencode(q)
                continue
            q = {}
            if kind[0]:
                q["year"] = str(rng.randint(2000, 2024))
            if kind[1]:
                q["country"] = rng.choice(COUNTRIES)
            yield "/" + ("?" + urllib.parse.urlencode(q) if q else "")


def client(port, paths, lock, out):
    """Send requests from the shared schedule until it runs out, each once
    the previous one is answered."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    while True:
        with lock:
            path = next(paths, None)
        if path is None:
            break
        t0 = time.perf_counter()
        try:
            conn.request("GET", path)
            r = conn.getresponse()
            body = r.read().decode("utf-8", errors="replace")
            error = checks.page(path, r.status, body)
        except Exception as e:  # a refused or broken request is a failure
            error = repr(e)
            conn.close()
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        out.append({"path": path, "latency_s": time.perf_counter() - t0, "error": error})
    conn.close()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--blocks", type=int, required=True,
                    help="blocks of the request mix, 10 requests each")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    results = [[] for _ in range(CLIENTS)]
    paths, lock = schedule(a.seed, a.blocks), threading.Lock()
    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, args=(
        a.port, paths, lock, results[i])) for i in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    with open(a.out, "w") as f:
        json.dump({"wall_s": wall, "requests": [r for rs in results for r in rs]}, f)


if __name__ == "__main__":
    main()
