"""Traced-run measurements: the streaming listener, per-task ``apply``
timings, event-log parsing and the per-layer metric table.

All of it sits in the benchmark: spans are taken around the calls the
benchmark makes into each layer, the listener is the benchmark's own, and
the Spark event log is switched on only for the traced session. A metric
of a layer the workload does not run reads 0 (no work done there).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime
from itertools import combinations

from . import check, common
from .common import Tracer, median, pct

#: per-layer metric -> unit; every traced run reports all of them
LAYER_UNITS = {
    "driver.peak_rss_mb": "MB",
    "session.start_s": "s",
    "plans.parse_ms": "ms",
    "plans.compile_ms": "ms",
    "plans.start_ms": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.batch_ms_p95": "ms",
    "streaming.source_ms": "ms",
    "streaming.plan_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.sink_ms": "ms",
    "streaming.idle_frac": "ratio",
    "streaming.backlog_files_end": "count",
    "streaming.state_rows": "count",
    "streaming.sink_files": "count",
    "tasks.s2s_enrich.rows_per_s": "1/s",
    "tasks.keyed_counter.rows_per_s": "1/s",
    "tasks.s2s_enrich.state_hit_ratio": "ratio",
    "catalog.read_s": "s",
    "functions.text.gates_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.pairs_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.pair_precision": "ratio",
    "operators.graph.cc_s": "s",
    "operators.graph.cc_rounds": "count",
    "operators.decontam_s": "s",
    "operators.sampling.split_s": "s",
    "sink.write_s": "s",
    "spark.jobs_per_batch": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.skew_max_over_median": "ratio",
    "gen.late_ms_p95": "ms",
    "trace.overhead_frac": "ratio",
}

TASK_REPS = 3


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamProbe:
    """StreamingQueryListener kept by the benchmark: one record per
    micro-batch progress event."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.rows: list[dict] = []
        lock = threading.Lock()
        rows = self.rows

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                rec = {
                    "batch": p.batchId,
                    "start": _ts(p.timestamp),
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
                with lock:
                    rows.append(rec)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def summary(self, t_live: float, t_end: float) -> dict:
        time.sleep(0.5)  # progress events are delivered asynchronously
        rows = [r for r in self.rows if r["rows"] > 0]
        live = [r for r in rows if r["start"] >= t_live]
        ms = lambda r, *k: sum(r["ms"].get(x, 0) for x in k)  # noqa: E731
        busy = sum(ms(r, "triggerExecution") for r in live) / 1000.0
        return {
            "streaming.batches": len(rows),
            "streaming.rows_per_batch_p50": median([r["rows"] for r in live]),
            "streaming.batch_ms_p50": median([ms(r, "triggerExecution") for r in live]),
            "streaming.batch_ms_p95": pct([ms(r, "triggerExecution") for r in live], 95),
            "streaming.source_ms": median([ms(r, "latestOffset", "getBatch") for r in live]),
            "streaming.plan_ms": median([ms(r, "queryPlanning") for r in live]),
            "streaming.commit_ms": median([ms(r, "walCommit", "commitOffsets") for r in live]),
            "streaming.sink_ms": median([ms(r, "addBatch") for r in live]),
            "streaming.idle_frac": max(0.0, 1.0 - busy / (t_end - t_live)),
            "streaming.state_rows": max((r["state_rows"] for r in rows), default=0),
        }


def task_rates(spark, spec, files: list[str], schema: str, tracer: Tracer) -> dict:
    """``tasks.<task>.rows_per_s``: each rule's task ``apply`` on a static
    frame of a captured micro-batch input (the backlog files), timed to a
    ``noop`` write. A chained rule gets its upstream's output as input."""
    from go_fish_spark.tasks import get_task

    frames = {}
    [(src, _)] = spec.sources.items()
    frames[src] = spark.read.schema(schema).json(files).persist()
    frames[src].count()
    out = {}
    for rule in spec.rules.values():
        inp = frames[rule.source]
        n = inp.count()
        times = []
        for _ in range(TASK_REPS):
            task = get_task(rule.task, **rule.options)
            task.init(spec.states.get(rule.state) if rule.state else None)
            t = time.time()
            with tracer.span(f"tasks.{rule.task}.apply", rows=n):
                task.apply(inp).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t)
        out[f"tasks.{rule.task}.rows_per_s"] = n / median(times)
        frames[rule.name] = task.apply(inp).persist()
    spark.catalog.clearCache()
    return out


def candidate_pairs(docs: list[dict], ids: list[int], k: int = 3) -> int:
    """Doc pairs sharing at least one word ``k``-shingle among ``ids``:
    the pairs the inverted-index Jaccard join must count before the
    threshold keeps the verified ones."""
    text = {d["doc_id"]: d["text"] for d in docs}
    index: dict[str, list[int]] = defaultdict(list)
    for i in sorted(ids):
        for sh in check.shingles(text[i], k):
            index[sh].append(i)
    pairs = set()
    for members in index.values():
        pairs.update(combinations(members, 2))
    return len(pairs)


def event_log_metrics(log_dir: str) -> dict:
    """Jobs per micro-batch (or per pass), shuffle bytes written, bytes
    spilled, GC time and the task skew of the largest shuffle-read stage."""
    jobs_by_batch: dict[str, int] = defaultdict(int)
    jobs = 0
    shuffle_w = spill = gc = 0
    stage_reads: dict[int, list[int]] = defaultdict(list)
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs += 1
                    b = (ev.get("Properties") or {}).get("streaming.sql.batchId")
                    if b is not None:
                        jobs_by_batch[b] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    shuffle_w += sw.get("Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    gc += m.get("JVM GC Time", 0)
                    read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    if read:
                        stage_reads[ev["Stage ID"]].append(read)
    skew = 0.0
    if stage_reads:
        reads = max(stage_reads.values(), key=sum)
        skew = max(reads) / max(statistics.median(reads), 1)
    return {
        "spark.jobs_per_batch": median(list(jobs_by_batch.values())) if jobs_by_batch else float(jobs),
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.spill_bytes": spill,
        "spark.gc_ms": gc,
        "spark.skew_max_over_median": skew,
    }


def _span_ms(tracer: Tracer, name: str) -> float:
    d = [s["end"] - s["start"] for s in tracer.spans if s["name"] == name and s["end"]]
    return median(d) * 1000.0


def layer_metrics(workload: str, res: dict, tracer: Tracer) -> dict:
    """Every per-layer metric as ``name -> (value, unit)``."""
    vals = dict.fromkeys(LAYER_UNITS, 0.0)
    vals["driver.peak_rss_mb"] = res["peak_rss_mb"]
    vals["session.start_s"] = _span_ms(tracer, "session.start") / 1000.0
    vals["plans.parse_ms"] = _span_ms(tracer, "plans.parse")
    vals["plans.compile_ms"] = _span_ms(tracer, "plans.compile")
    vals["plans.start_ms"] = _span_ms(tracer, "plans.start")
    if workload == "curation_batch":
        st = res["stages"]
        for name, metric in (
            ("catalog.read", "catalog.read_s"),
            ("functions.text.gates", "functions.text.gates_s"),
            ("operators.dedup.exact", "operators.dedup.exact_s"),
            ("operators.dedup.pairs", "operators.dedup.pairs_s"),
            ("operators.graph.cc", "operators.graph.cc_s"),
            ("operators.decontam", "operators.decontam_s"),
            ("operators.sampling.split", "operators.sampling.split_s"),
            ("sink.write", "sink.write_s"),
        ):
            vals[metric] = tracer.total(name)
        vals["operators.dedup.candidate_pairs"] = st["candidate_pairs"]
        vals["operators.dedup.verified_pairs"] = st["verified_pairs"]
        vals["operators.dedup.pair_precision"] = st["verified_pairs"] / max(st["candidate_pairs"], 1)
        vals["operators.graph.cc_rounds"] = st["cc_rounds"]
        vals["trace.overhead_frac"] = res["traced_pass_s"] / median(res["pass_s"]) - 1.0
    else:
        vals.update(res["probe"])
        vals.update({k: v for k, v in res["task_rates"].items() if k in LAYER_UNITS})
        vals["streaming.backlog_files_end"] = res["backlog_files_end"]
        vals["streaming.sink_files"] = res["sink_files"]
        vals["gen.late_ms_p95"] = pct(res["gen_late_ms"], 95)
        vals["trace.overhead_frac"] = median(res["traced_latency_ms"]) / median(res["latency_ms"]) - 1.0
        if workload == "stream_stateful":
            vals["tasks.s2s_enrich.state_hit_ratio"] = res["verdicts"][-2].extra["state_hit_ratio"]
    res["spark"].stop()
    vals.update(event_log_metrics(os.path.join(common.WORK, "eventlog")))
    return {k: (float(v), LAYER_UNITS[k]) for k, v in vals.items()}
