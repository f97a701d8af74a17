#!/usr/bin/env python
"""Per-entry micro-profiler for the optimization rounds (guide §1).

For each requested registry entry, measures separately:
  * build_s  — Python-side plan construction (``qd.fn(spark, sf_dir)``),
  * exec_s   — execution via the bench's own action (``df.count()``),
  * noop_s   — a second run timed with the noop sink (computes every
    column; guide §1.4) on a freshly built plan,
  * jobs/stages — Spark jobs and stages launched during build+exec
    (status-tracker delta), the scheduling-overhead proxy that dominates
    at test SF.

Usage:
  python scripts/profile_entries.py [--sf DIR] [--only a,b,c] [--top N]
                                    [--out /tmp/profile.json]
Defaults to every bench HEADLINE entry.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--only", default=None)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--out", default="/tmp/profile_entries.json")
    ap.add_argument("--noop", action="store_true", help="also time a noop-sink run")
    args = ap.parse_args()

    from go_fish_spark.queries import REGISTRY
    from go_fish_spark.session import get_spark

    import bench as benchmod

    spark = get_spark(app_name="entry-profiler")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # identical warmup to bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from go_fish_spark.catalog import TABLES, table

    for t in TABLES:
        table(spark, args.sf, t).count()

    names = list(benchmod.HEADLINE)
    if args.only:
        names = [n.strip() for n in args.only.split(",") if n.strip()]
    if args.top:
        hist = {}
        try:
            with open(
                os.path.join(os.path.dirname(os.path.dirname(
                    os.path.abspath(__file__))), "BENCH_FULL.json")
            ) as fh:
                hist = json.load(fh).get("queries", {})
        except (OSError, ValueError):
            pass
        names = sorted(
            [n for n in names if n in hist], key=lambda n: -hist[n]
        )[: args.top]

    out = {}
    for name in names:
        qd = REGISTRY.get(name)
        if qd is None:
            continue
        try:
            # job ids are sequential: the newest id counts jobs even though
            # the session keeps only the latest few in its status store
            j0 = max(tracker.getJobIdsForGroup(None) or [-1])
            sc.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = qd.fn(spark, args.sf)
            t1 = time.perf_counter()
            n = df.count()
            t2 = time.perf_counter()
            j1 = max(tracker.getJobIdsForGroup(None) or [-1])
            rec = {
                "build_s": round(t1 - t0, 3),
                "exec_s": round(t2 - t1, 3),
                "total_s": round(t2 - t0, 3),
                "jobs": j1 - j0,
                "rows": n,
            }
            if args.noop:
                t3 = time.perf_counter()
                df2 = qd.fn(spark, args.sf)
                df2.write.format("noop").mode("overwrite").save()
                rec["noop_total_s"] = round(time.perf_counter() - t3, 3)
            out[name] = rec
            print(
                f"{name:42s} build {rec['build_s']:7.3f}  exec "
                f"{rec['exec_s']:7.3f}  jobs {rec['jobs']:3d}  rows {n}",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            print(f"{name:42s} ERROR {out[name]['error']}", flush=True)
        finally:
            sc.setJobDescription(None)
            from go_fish_spark.operators.dedup import release_caches

            release_caches()

    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {args.out}")
    from go_fish_spark.session import sweep_tmp_stores

    sweep_tmp_stores(sc.applicationId, stale_s=900.0)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
