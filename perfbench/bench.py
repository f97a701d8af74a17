"""One benchmark run: set up, measure, check, report.

``run`` returns ``(summary, result)``. ``result`` is the result line:
with tracing off its metrics are the end-to-end ones listed in
``BENCHMARK.json``, with tracing on the per-layer ones. ``summary`` holds
every figure of the run under the names README.md documents, including
workload-specific ones (``catchup_events_per_s``, ``docs_per_s``,
``failed_frac``) and the input digest.
"""

from __future__ import annotations

import sys
import time

from . import common, streams
from .common import Tracer, pct

#: end-to-end metric -> unit, shared by every workload (README.md); the
#: summary line also prints ``latency_p95_ms``, which has too few samples
#: beyond it to bound
E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "latency_p50_ms": "ms",
    "heap_live_mb": "MB",
}


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    common.prepare_env()
    tracer = Tracer(enabled=trace)
    t0 = time.time()
    steal0, total0 = common.cpu_times()
    try:
        if workload == "curation_batch":
            from . import curation

            res = curation.run(seed, seconds, trace, tracer)
            e2e = curation.metrics(res)
        else:
            wl = streams.STATEFUL if workload == "stream_stateful" else streams.STATELESS
            res = streams.run(wl, seed, seconds, trace, tracer)
            e2e = streams.metrics(wl, res)
        layers = {}
        if trace:
            from . import trace as tr

            layers = tr.layer_metrics(workload, res, tracer)
            tracer.write(workload)
    finally:
        common.shutdown_jvm()
        common.cleanup()

    steal1, total1 = common.cpu_times()
    verdicts = res["verdicts"]
    attempted = sum(v.attempted for v in verdicts)
    failed = sum(v.failed for v in verdicts)
    known = sum(v.known for v in verdicts)
    correct = all(v.correct for v in verdicts)
    for v in verdicts:
        for msg in v.errors:
            print(f"perfbench check: {msg}", file=sys.stderr)

    summary = {
        "workload": workload,
        "seed": seed,
        "input_digest": res["digest"],
        "cpus": common.CPUS,
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "failed_known_defect": known,
        "failed_frac": failed / attempted,
        "wall_s": time.time() - t0,
        # share of CPU time the hypervisor gave to other guests during the
        # run; runs on a contended host read slow on every timing
        "host_steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
        **e2e,
    }
    if workload == "curation_batch":
        summary["docs_per_s"] = e2e["events_per_s"]
    else:
        summary["catchup_events_per_s"] = e2e["events_per_s"]
        summary["gen_late_ms_p95"] = pct(res["gen_late_ms"], 95)
    if trace:
        summary.update(layers)
        if "task_rates" in res:  # every rule's rate, the filter tasks of stream_stateless too
            summary["task_rates_per_s"] = res["task_rates"]
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    return summary, result
