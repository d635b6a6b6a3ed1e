#!/usr/bin/env python
"""Fresh-JVM timing probe for registered queries, alone or as an A/B.

    python scripts/ab_probe.py QUERY [QUERY...]
    python scripts/ab_probe.py --base /path/to/other/checkout QUERY [QUERY...]

Every measurement is ONE fresh python+JVM per (tree, query): 1 warm-up,
then the median of 3 timed runs through the ``noop`` sink — the same
protocol bench.py uses per group. The scale is ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1). Each process also reports ``compiled``,
the number of classes whole-stage codegen compiled during its three
timed runs: after the warm-up a repeated query should compile next to
nothing, so a rise there is a codegen-cache regression.

Without ``--base`` each query runs once in this tree. With ``--base``
the two trees alternate A/B/A/B in the same host window (two processes
per tree and query), so host drift during the probe hits both sides
alike; the summary gives each side's median of medians, its min, and the
change/base ratio.

Prints one JSON line per process and a final summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ROUNDS = 2  # A/B rounds per query with --base

_CHILD = """
import json, sys, time
sys.path.insert(0, {repo!r})
from polars_nexpresso_spark.session import get_spark
import __spark_entry__ as em

q = em.queries()[{name!r}]
spark = get_spark(app_name="pns-probe-{name}")
spark.sparkContext.setLogLevel("ERROR")

def run():
    q(spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()

def compiled():
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()

run()  # warm-up: codegen + shuffle-file warm
runs = []
c0 = compiled()
for _ in range(3):
    t0 = time.perf_counter()
    run()
    runs.append(round(time.perf_counter() - t0, 3))
print(json.dumps({{"runs": runs, "compiled": compiled() - c0}}))
"""


def measure(tree: str, name: str, sf_dir: str) -> dict:
    """One fresh process on ``tree``: ``{runs, median}`` or ``{error}``."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=tree, name=name, sf_dir=sf_dir)],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=tree,
    )
    rec: dict = {"query": name, "tree": tree}
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            out = json.loads(line)
            rec["runs"], rec["compiled"] = out["runs"], out["compiled"]
        except (json.JSONDecodeError, KeyError, TypeError):
            continue
        rec["median"] = statistics.median(rec["runs"])
        break
    else:
        rec["error"] = (proc.stderr or "no output").strip()[-400:]
    rec["process_wall_sec"] = round(time.perf_counter() - t0, 1)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", help="second checkout to A/B this tree against")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sides = {"change": str(REPO)}
    if args.base:
        sides = {"base": str(Path(args.base).resolve()), **sides}
    rounds = ROUNDS if args.base else 1
    summary: dict[str, dict] = {}
    for name in args.queries:
        medians: dict[str, list[float]] = {side: [] for side in sides}
        for _ in range(rounds):
            for side, tree in sides.items():
                rec = measure(tree, name, sf_dir)
                print(json.dumps({"side": side, **rec}), flush=True)
                if "median" in rec:
                    medians[side].append(rec["median"])
        summary[name] = {
            side: {"median": round(statistics.median(m), 3), "min": min(m)}
            for side, m in medians.items()
            if m
        }
        if args.base and len(summary[name]) == 2:
            summary[name]["ratio"] = round(
                summary[name]["change"]["median"] / summary[name]["base"]["median"], 3
            )
    print(json.dumps({"summary": summary, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
