#!/usr/bin/env python3
"""Re-arm BENCH_FLOOR.json from a bench run (round 11, VERDICT #2/#7).

Reads BENCH_QUERIES.json (written by graft.Bench) and folds the run's
per-query times into BENCH_FLOOR.json in quiet-box-equivalent seconds.

Normalization uses the COHORT MEDIAN of t/floor over queries that
already have floors (the robust estimator for Spark-overhead drift —
round 11 measured the pure-JVM pair loop at reference speed while 30+
untouched queries ran uniformly 2.2x their floors), falling back to
the pair-loop env_factor when no floored cohort exists:
  - existing query: floor = min(old_floor, t / norm) — floors are in
    quiet-box units, so a raw time must be normalized before it is
    compared with or stored as one (a raw time from a box faster than
    the floors' would otherwise undercut the floor by the box factor)
  - new query (no floor yet): floor = t / norm (best available
    quiet-box estimate)

Usage: python3 tools/update_floors.py [bench_json] [floor_json] [round]

--rebase (r15, guide §1.4 noop migration): REPLACE every floor with
this run's time normalized to quiet-box units by the run's own cohort
ratio against the OLD floors. Used once when the timed action changed
from .count() to the noop sink — the old floors measure a strictly
smaller computation, so min-folding against them would permanently
undercount post-migration runs. The refusal guards still apply.
"""
import json
import statistics
import sys

args = [a for a in sys.argv[1:] if a != "--rebase"]
rebase = "--rebase" in sys.argv[1:]
bench_path = args[0] if len(args) > 0 else "BENCH_QUERIES.json"
floor_path = args[1] if len(args) > 1 else "BENCH_FLOOR.json"
rnd = args[2] if len(args) > 2 else None

bench = json.load(open(bench_path))
floors = json.load(open(floor_path))
q = floors["queries"]

# A run where any query threw is incomplete: the failed queries carry no
# time, so the run cannot speak for them. Refuse unconditionally.
if bench.get("failed_count", 0) > 0:
    print(f"bench artifact has failed_count={bench['failed_count']} "
          f"({', '.join(sorted(bench.get('failed', {})))}): refusing to fold floors",
          file=sys.stderr)
    sys.exit(1)

# Cohort guard (round 13, VERDICT #5): a run whose floored cohort sits
# >1.25x over the committed floors was taken on a hot/contended box —
# folding from it can only add inflated floors for NEW queries and
# mis-normalize. Refuse outright; the artifact stays usable for the
# regression gate (which normalizes), just not for floor updates.
# Override with UPDATE_FLOORS_FORCE=1 only for a deliberate re-baseline.
import os
cohort = bench.get("env_median_ratio")
if cohort is None and os.environ.get("UPDATE_FLOORS_FORCE") != "1":
    # ADVICE r13: a missing/null cohort ratio means the run had no
    # floored cohort to measure against (no BENCH_FLOOR.json in cwd, or
    # the check failed) — absence is NOT cleanliness; refuse rather
    # than silently passing an unvetted artifact through the guard.
    print("bench artifact carries no env_median_ratio (no floored cohort "
          "was measured): unvetted, refusing to fold floors "
          "(set UPDATE_FLOORS_FORCE=1 to override)", file=sys.stderr)
    sys.exit(1)
if cohort is not None and float(cohort) > 1.25 \
        and os.environ.get("UPDATE_FLOORS_FORCE") != "1":
    print(f"bench artifact is hot-box (env_median_ratio={cohort} > 1.25): "
          "non-comparable, refusing to fold floors "
          "(set UPDATE_FLOORS_FORCE=1 to override)", file=sys.stderr)
    sys.exit(1)

ratios = sorted(t / q[name] for name, t in bench["queries"].items()
                if name in q and q[name] > 0)
if ratios:
    norm = min(4.0, max(0.5, statistics.median(ratios)))
else:
    norm = float(bench.get("env_factor", 1.0))
if not (0.25 <= norm <= 10.0):
    print(f"normalization factor {norm} outside sanity range; refusing", file=sys.stderr)
    sys.exit(1)

lowered, added = [], []
if rebase:
    old = dict(q)
    q.clear()
    for name, t in sorted(bench["queries"].items()):
        q[name] = round(t / norm, 3)
        if name not in old:
            added.append((name, q[name]))
        elif q[name] < old[name]:
            lowered.append((name, old[name], q[name]))
    raised = sum(1 for n in q if n in old and q[n] > old[n])
    print(f"REBASE: {len(q)} floors replaced at norm={norm:.3f} "
          f"({raised} raised, {len(lowered)} lowered, {len(added)} new)")
else:
    for name, t in sorted(bench["queries"].items()):
        if name not in q:
            v = round(t / norm, 3)
            q[name] = v
            added.append((name, v))
        elif round(t / norm, 3) < q[name]:
            lowered.append((name, q[name], round(t / norm, 3)))
            q[name] = round(t / norm, 3)
if rnd:
    floors["round"] = rnd
floors["norm_of_last_update"] = round(norm, 4)
json.dump(floors, open(floor_path, "w"), indent=1, sort_keys=True)
print(f"norm={norm:.3f} (median of {len(ratios)} floored ratios)  "
      f"lowered={len(lowered)}  added={len(added)}")
for name, v in added:
    print(f"  + {name}: {v}")
for name, old, new in lowered[:25]:
    print(f"  v {name}: {old} -> {new}")
