"""Compare two bench artifacts query-by-query with noise-aware flags.

Usage: python scripts/compare_rounds.py OLD.json NEW.json [--threshold 1.25]

Accepts any of the bench formats in this repo: the compact headline line
(``{"metric": ..., "queries": {...}}``), the driver's recorded
``BENCH_r{N}.json`` (which may wrap the headline under ``"parsed"``), or
the full ``BENCH_DETAILS.json`` sidecar.

Host noise between runs is roughly ±15% per query (docs/benchmarks.md),
so the default flag threshold is 1.25x AND an absolute floor of 0.15 s —
sub-150 ms queries are JVM-jitter territory regardless of ratio. Re-read
a flagged row with ``scripts/ab_probe.py`` (the query alone in a fresh
JVM, warm-up + median-of-3; ``--base`` for an interleaved A/B) before
believing the delta.
"""

from __future__ import annotations

import json
import sys


def load_queries(path: str) -> dict[str, float]:
    with open(path) as fh:
        doc = json.load(fh)
    if "parsed" in doc and isinstance(doc["parsed"], dict):
        doc = doc["parsed"]
    queries = doc.get("queries")
    if not isinstance(queries, dict):
        if doc.get("parsed") is None and "tail" in doc:
            raise SystemExit(
                f"{path}: driver artifact with parsed=null (head-truncated "
                "stdout, the pre-round-4 format) — no recoverable per-query "
                "data"
            )
        raise SystemExit(f"{path}: no 'queries' object found")
    return {k: float(v) for k, v in queries.items()}


def main() -> None:
    argv = sys.argv[1:]
    threshold = 1.25
    args: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--threshold"):
            if "=" in a:
                threshold = float(a.split("=", 1)[1])
            else:
                i += 1
                threshold = float(argv[i])
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        raise SystemExit(__doc__)
    old, new = load_queries(args[0]), load_queries(args[1])
    shared = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))

    flagged = []
    improved = []
    for name in shared:
        o, n = old[name], new[name]
        if o <= 0:
            continue
        ratio = n / o
        if ratio >= threshold and (n - o) >= 0.15:
            flagged.append((ratio, name, o, n))
        elif ratio <= 1 / threshold and (o - n) >= 0.15:
            improved.append((ratio, name, o, n))

    t_old = sum(old[n] for n in shared)
    t_new = sum(new[n] for n in shared)
    print(
        f"comparable subset ({len(shared)} queries): "
        f"{t_old:.1f}s -> {t_new:.1f}s ({t_new / t_old:.2f}x)"
    )
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    if flagged:
        print(f"\nFLAGGED >= {threshold:.2f}x slower (isolate before believing):")
        for ratio, name, o, n in sorted(flagged, reverse=True):
            print(f"  {name}: {o:.3f}s -> {n:.3f}s ({ratio:.2f}x)")
    else:
        print("\nno regressions beyond the noise threshold")
    if improved:
        print("\nimproved:")
        for ratio, name, o, n in sorted(improved):
            print(f"  {name}: {o:.3f}s -> {n:.3f}s ({ratio:.2f}x)")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
