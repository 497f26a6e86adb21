#!/usr/bin/env python3
"""Render the BASELINE.md per-query table from the calm-window artifacts.

Usage: python3 tools/baseline_table.py <tag> [duckdb_tag]
Inputs: bench/bench_median_<tag>.json          (graft, tools/calmbench.py)
        bench/baseline_duckdb_<duckdb_tag>.json (DuckDB, tools/baseline.py;
                                                 duckdb_tag defaults to tag)
Prints a markdown table sorted by query name plus headline totals.
"""
import json, sys

tag = sys.argv[1] if len(sys.argv) > 1 else "r07"
g = json.load(open(f"bench/bench_median_{tag}.json"))["queries"]
dtag = sys.argv[2] if len(sys.argv) > 2 else tag
d = json.load(open(f"bench/baseline_duckdb_{dtag}.json"))["median_sec"]

TIMEOUT = 300.0
rows, g_tot, d_tot = [], 0.0, 0.0
for q in sorted(g):
    gs = g[q]
    ds = d.get(q)
    g_tot += gs
    if ds is None:
        rows.append(f"| {q} | {gs:.2f} | — | — |")
    elif ds < 0:
        d_tot += TIMEOUT
        rows.append(f"| {q} | {gs:.2f} | >300 (timeout) | <{gs/TIMEOUT:.3f}x |")
    else:
        d_tot += ds
        rows.append(f"| {q} | {gs:.2f} | {ds:.2f} | {gs/ds:.1f}x |")

print("| query | graft (Spark) | DuckDB | ratio |")
print("|---|---|---|---|")
print("\n".join(rows))
print(f"\ntotals: graft {g_tot:.1f}s, DuckDB >{d_tot:.1f}s "
      f"-> bench_vs_baseline {g_tot/d_tot:.2f}x")
