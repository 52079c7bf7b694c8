#!/usr/bin/env python3
"""Compare two Bench JSON artifacts query-by-query.

Usage: bench_compare.py <new.json> <old.json> [threshold]
Prints shared-query median/quartile ratios and any mover above the
threshold (default 1.5x), the repo's standing regression bar
(0.95-1.2 is documented host-noise band; re-run >1.5x movers isolated
before calling them regressions).
"""
import json, sys, statistics

def load(path):
    d = json.load(open(path))
    if "queries" not in d:
        # Bench's compact stdout line carries only the headline fields and
        # names the file that holds the per-query seconds
        sys.exit(f"{path} has no per-query times (Bench's compact stdout "
                 f"line?); pass the file it names instead: "
                 f"{d.get('file', 'SPARK_GRAFT_BENCH_OUT / bench_out.json')}")
    return d


new = load(sys.argv[1])
old = load(sys.argv[2])
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
nq, oq = new["queries"], old["queries"]
shared = sorted(set(nq) & set(oq))
ratios = {q: nq[q] / oq[q] for q in shared if oq[q] > 0}
vals = sorted(ratios.values())
if not vals:
    sys.exit(f"no shared queries with nonzero old time between "
             f"{sys.argv[1]} ({len(nq)} queries) and {sys.argv[2]} "
             f"({len(oq)} queries) — wrong artifact pair?")
med = statistics.median(vals)
q1 = vals[len(vals) // 4]
q3 = vals[3 * len(vals) // 4]
# old-only queries are the LOUD case: a query that regressed to FAILED
# (or fell off the surface) vanishes from new.json's map, and a
# comparison that only reports the intersection would sign off a round
# that lost coverage
print(f"shared={len(shared)} new-only={sorted(set(nq)-set(oq))} "
      f"DROPPED-from-new={sorted(set(oq)-set(nq))}")
print(f"median={med:.3f} quartiles={q1:.2f}/{q3:.2f} "
      f"total_new={new.get('value')} total_old={old.get('value')}")
movers = {q: r for q, r in ratios.items() if r > thr}
for q, r in sorted(movers.items(), key=lambda kv: -kv[1]):
    print(f"MOVER {q}: {r:.2f}x ({oq[q]:.2f}s -> {nq[q]:.2f}s)")
if not movers:
    print(f"no movers above {thr}x")
