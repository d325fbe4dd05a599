#!/usr/bin/env python3
"""Fold Bench sweeps into a BASELINE table: per-gate MINIMUM across the
given bench_report JSONs (external host steal inflates individual sweeps
by 1.5-2x with flat gc_ms, so the min across sweeps is the honest
uncontended estimate).

Robust to partial sweeps: non-numeric values (null from a failed/partial
gate) are skipped rather than crashing the fold, and per-gate sweep
coverage is reported so a gate folded from fewer sweeps than advertised
is visible instead of silently blending in.

Usage: python3 scripts/fold_bench.py report1.json report2.json ... > table.md
"""
import json
import numbers
import sys

reports = [json.load(open(p)) for p in sys.argv[1:]]
queries = {}
seen = {}
for r in reports:
    for k, v in r.get("queries", {}).items():
        if not isinstance(v, numbers.Number):
            continue  # failed/partial gate in this sweep: skip, don't fold
        seen[k] = seen.get(k, 0) + 1
        if k not in queries or v < queries[k]:
            queries[k] = v
total = sum(queries.values())
partial = {k: n for k, n in seen.items() if n < len(reports)}
print(f"<!-- min-fold of {len(reports)} sweeps; composite {total:.1f} s"
      f" over {len(queries)} gates -->")
if partial:
    print(f"<!-- PARTIAL COVERAGE ({len(partial)} gates seen in fewer "
          f"than {len(reports)} sweeps): "
          + ", ".join(f"{k}={n}" for k, n in sorted(partial.items()))
          + " -->")
for k in sorted(queries):
    print(f"| {k} | {queries[k]:.3f} |")
print(f"<!-- TOTAL {total:.3f} -->", file=sys.stderr)
