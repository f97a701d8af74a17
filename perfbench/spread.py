"""Run one workload over several seeds and report each metric's spread;
or compare two such sets.

    python3 perfbench/spread.py --workload stream_stateful --seeds 1-10 [--seconds 20]
        [--trace 0] [--record perfbench/records/NAME.json]
    python3 perfbench/spread.py --compare A.json B.json

For every metric: the median of the runs, the quartiles as
``statistics.quantiles(values, n=4)`` gives them, and the quartile
distance as a share of the median, which BENCHMARK.json's bounds are
compared against. Runs are sequential; each is a separate process. The
core count comes from ``SPARK_GRAFT_CPUS`` as in ``run.py``.

``--compare`` takes two recorded sets of the same workload and prints
whether each seed that both ran failed the same number of operations
in both (the outputs are a function of the inputs, so it must), and, per
end-to-end metric of ``BENCHMARK.json``, each set's median and
spread, and how much worse each median is than the other's, as a share
of the other's, against the metric's bound. A metric is ``ok`` when
neither median is worse than the other by more than the bound and both
spreads are within it (``setup_s``: medians only), else ``UNRESOLVED``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    summary = json.loads(lines[-2][len("summary "):])
    return {"seed": seed, "result": json.loads(lines[-1]), "summary": summary}


def spread(runs: list[dict]) -> dict:
    names = runs[0]["result"]["metrics"]
    out = {}
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "iqr_over_median": (q3 - q1) / med if med else None, "values": vals}
    return out


def compare(path_a: str, path_b: str) -> bool:
    """Print the two sets' agreement per end-to-end metric; True if every
    metric is ``ok``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = []
    for p in (path_a, path_b):
        with open(p) as f:
            sets.append(json.load(f))
    a, b = sets
    if a["workload"] != b["workload"]:
        raise SystemExit(f"different workloads: {a['workload']} vs {b['workload']}")
    print(f"{a['workload']}: A = {path_a} ({len(a['runs'])} runs), B = {path_b} ({len(b['runs'])} runs)")
    fa = {r["seed"]: r["result"]["failed"] for r in a["runs"]}
    fb = {r["seed"]: r["result"]["failed"] for r in b["runs"]}
    both = fa.keys() & fb.keys()
    differ = sorted(s for s in both if fa[s] != fb[s])
    print(f"failed operations over the {len(both)} seeds both ran: A {sum(fa[s] for s in both)}, "
          f"B {sum(fb[s] for s in both)}; seeds that differ: {differ or 'none'}")
    print(f"{'metric':16s} {'bound':>5s} {'median A':>10s} {'median B':>10s} {'spread A':>8s} "
          f"{'spread B':>8s} {'B worse':>8s} {'A worse':>8s}  verdict")
    all_ok = not differ
    for m in bench["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        sa, sb = a["spread"][name], b["spread"][name]
        ma, mb = sa["median"], sb["median"]
        b_worse = (mb - ma) / ma if lower else (ma - mb) / ma
        a_worse = (ma - mb) / mb if lower else (mb - ma) / mb
        ok = b_worse <= bound and a_worse <= bound
        if name != "setup_s":
            ok = ok and sa["iqr_over_median"] <= bound and sb["iqr_over_median"] <= bound
        all_ok = all_ok and ok
        print(f"{name:16s} {bound:5.2f} {ma:10.4g} {mb:10.4g} {sa['iqr_over_median']:8.3f} "
              f"{sb['iqr_over_median']:8.3f} {b_worse:+8.3f} {a_worse:+8.3f}  {'ok' if ok else 'UNRESOLVED'}")
    return all_ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--record", default=None, help="write runs and spreads to this JSON file")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"), help="compare two recorded sets")
    a = ap.parse_args()
    if a.compare:
        return 0 if compare(*a.compare) else 1
    if not a.workload:
        ap.error("--workload is required")
    runs = []
    for s in seeds(a.seeds):
        r = one(a.workload, s, a.seconds, a.trace)
        runs.append(r)
        m = r["result"]["metrics"]
        print(f"seed {s}: failed {r['result']['failed']}/{r['result']['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)
    sp = spread(runs)
    for name, v in sp.items():
        rel = "n/a" if v["iqr_over_median"] is None else f"{v['iqr_over_median']:.3f}"
        print(f"{name:40s} median {v['median']:.4g}  q1 {v['q1']:.4g}  q3 {v['q3']:.4g}  iqr/median {rel}")
    if a.record:
        with open(a.record, "w") as f:
            json.dump({"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                       "cpus": runs[0]["summary"]["cpus"], "runs": runs, "spread": sp}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
