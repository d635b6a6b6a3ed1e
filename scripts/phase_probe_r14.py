#!/usr/bin/env python
"""Phase-split probe: where does a query's wall time go?

One fresh python+JVM per query (the ab_probe.py protocol), splitting
each run into the three phases the optimization guide cares about:

- construct: calling the registered query function (Python + py4j +
  parse/analysis of generated SQL + any EAGER pin/training jobs),
- optimize:  forcing physical planning (``executedPlan`` string),
- execute:   the noop-sink write (guide §1.4).

Cold (first) and steady (median of the later rounds, fresh DataFrame
each round so construct is re-paid) are reported separately: cold
includes JIT/codegen warmup, steady is what the bench's warm medians
see.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python scripts/phase_probe_r14.py QUERY [QUERY...]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_CHILD = """
import json, time, sys
sys.path.insert(0, {repo!r})
from polars_nexpresso_spark.session import get_spark
import __spark_entry__ as em

name = {name!r}
sf_dir = {sf_dir!r}
q = em.queries()[name]
spark = get_spark(app_name=f"pns-phase-{{name}}")
spark.sparkContext.setLogLevel("ERROR")

rounds = []
for i in range(1 + {repeat}):
    t0 = time.perf_counter()
    df = q(spark, sf_dir)
    t1 = time.perf_counter()
    # Force analysis+optimization+physical planning without executing.
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    rounds.append({{
        "construct": round(t1 - t0, 3),
        "optimize": round(t2 - t1, 3),
        "execute": round(t3 - t2, 3),
        "total": round(t3 - t0, 3),
    }})
print(json.dumps({{"query": name, "rounds": rounds}}))
"""


def probe(name: str, sf_dir: str, repeat: int = 3) -> dict:
    code = _CHILD.format(repo=str(REPO), name=name, sf_dir=sf_dir, repeat=repeat)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=str(REPO),
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            continue
        if rec.get("query") == name:
            cold, steady = rec["rounds"][0], rec["rounds"][1:]
            rec["cold"] = cold
            rec["steady"] = {
                k: round(statistics.median(r[k] for r in steady), 3)
                for k in ("construct", "optimize", "execute", "total")
            }
            return rec
    return {"query": name, "error": (proc.stderr or "no output").strip()[-400:]}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: phase_probe_r14.py QUERY [QUERY...]")
    for name in names:
        rec = probe(name, sf_dir)
        print(json.dumps(rec), flush=True)


if __name__ == "__main__":
    main()
