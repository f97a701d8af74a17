"""Stream workloads: replay catch-up, then a live open loop.

Both drive the public path ``plans.parse_spec`` -> ``compile_pipeline``
-> ``CompiledPipeline.start`` on file sources. Per run:

1. ``SETUPS`` set-ups, each a fresh session, spec parse/compile and a
   warm-up query over ``gen.WARMUP_FILES`` files (``available_now``); the
   first also starts the JVM. After the last, a fixed backlog is written
   and ``start()`` is called: catch-up is the time from ``start()``
   until the micro-batch holding the last backlog file commits (the
   mtime of its ``commits/<batch>`` file).
2. After the catch-up, one publisher thread releases one file per
   ``tick_s`` on a fixed schedule (write a dot-file, rename), holding a
   file back while the micro-batch of the one before it has not
   committed, so each live file is a micro-batch of its own. A file's
   latency runs from its release (its due time, or the commit it was
   held for) to the commit of the micro-batch that read it; the
   checkpoint's source log maps files to micro-batches.

The outputs of the catch-up and live phase are read back and checked
against :mod:`check`.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from dataclasses import dataclass

from . import check, common, gen
from .common import Tracer, median, pct

SETUPS = 3
#: live files published before the ``--seconds`` of timed ones; their
#: outputs are checked but their latency is not counted: the first
#: micro-batches after the catch-up run ~30% slower
LIVE_WARMUP = 5


@dataclass(frozen=True)
class StreamWorkload:
    name: str
    kind: str  # gen.stream_inputs kind
    backlog_events: int
    backlog_per_file: int
    events_per_file: int  # live files
    tick_s: float

    @property
    def rate(self) -> float:
        return self.events_per_file / self.tick_s


STATEFUL = StreamWorkload("stream_stateful", "cloudtrail", 9_000, 30, 250, 1.0)
STATELESS = StreamWorkload("stream_stateless", "cert", 30_000, 100, 1250, 0.5)

CLOUDTRAIL_SCHEMA = "event_id long, ts timestamp, role_id string, event_name string, principal string, mfa string"
CERT_SCHEMA = "message_type string, domains array<string>, seen double, cert_index long"


def spec_for(kind: str, d: str) -> dict:
    """The example pipelines' shape with paths under ``d``."""
    if kind == "cloudtrail":
        return {
            "sources": {"trail": {"type": "json", "options": {"path": f"{d}/in", "schema": CLOUDTRAIL_SCHEMA}}},
            "rules": {
                "enrich": {
                    "source": "trail", "task": "s2s_enrich", "sink": "enriched", "state": "kv",
                    "options": {
                        "key": "role_id", "time": "ts", "tiebreak": "event_id",
                        "write_when": "event_name = 'AssumeRole'",
                        "write_value": "concat('user/', principal)",
                        "fallback": "role_id", "alias": "entity",
                    },
                },
                "no_mfa_counts": {
                    "source": "trail", "task": "keyed_counter", "sink": "alerts",
                    "options": {"key": "role_id", "when": "mfa = 'false'", "time": "ts"},
                },
            },
            "sinks": {
                "enriched": {"type": "json", "options": {"path": f"{d}/enriched"}},
                "alerts": {"type": "json", "options": {"path": f"{d}/alerts"}},
            },
            "states": {"kv": {"type": "KV"}},
        }
    return {
        "sources": {"certs": {"type": "json", "options": {"path": f"{d}/in", "schema": CERT_SCHEMA}}},
        "rules": {
            "drop_heartbeats": {
                "source": "certs", "task": "filter_regex",
                "options": {"column": "message_type", "pattern": "^certificate_update$"},
            },
            "www_domains": {
                "source": "drop_heartbeats", "task": "filter_array_exists", "sink": "alerts",
                "options": {"column": "domains", "pattern": "^www\\."},
            },
        },
        "sinks": {"alerts": {"type": "json", "options": {"path": f"{d}/out"}}},
        "states": {},
    }


def _write_files(dirname: str, blobs: list[bytes]) -> None:
    os.makedirs(dirname, exist_ok=True)
    for i, blob in enumerate(blobs):
        _publish(dirname, i, blob)


def _publish(dirname: str, i: int, blob: bytes) -> None:
    """Atomic publish: the file source skips dot-files, so the rename is
    the moment the file becomes visible."""
    final = os.path.join(dirname, f"f{i:06d}.json")
    tmp = os.path.join(dirname, f".f{i:06d}.json.tmp")
    with open(tmp, "wb") as f:
        f.write(blob)
    os.rename(tmp, final)


class Checkpoint:
    """Reads a streaming query's checkpoint: which micro-batch read which
    file (the file source's log) and when each micro-batch committed."""

    def __init__(self, root: str) -> None:
        self.root = root

    def _dir(self, sub: str) -> str | None:
        hits = glob.glob(os.path.join(self.root, "**", sub), recursive=True)
        return hits[0] if hits else None

    def file_batches(self) -> dict[str, int]:
        out: dict[str, int] = {}
        d = self._dir(os.path.join("sources", "0"))
        if d is None:
            return out
        for p in os.listdir(d):
            if p.startswith("."):
                continue
            try:
                with open(os.path.join(d, p)) as f:
                    lines = f.read().splitlines()[1:]
            except OSError:
                continue
            for line in lines:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def commits_dir(self) -> str:
        d = self._dir("commits")
        if d is None:
            raise RuntimeError(f"no commits directory under {self.root}")
        return d

    def commit_time(self, batch: int) -> float | None:
        d = self._dir("commits")
        if d is None:
            return None
        try:
            return os.stat(os.path.join(d, str(batch))).st_mtime
        except OSError:
            return None

    def wait_committed(self, fname: str, timeout: float) -> float | None:
        """Commit time of the micro-batch that read ``fname``."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            b = self.file_batches().get(fname)
            if b is not None:
                t = self.commit_time(b)
                if t is not None:
                    return t
            time.sleep(0.02)
        return None


def _one_batch(batches: dict[str, int], files: range) -> int:
    """The micro-batch that read all of ``files``; the catch-up must be
    one, as the backlog is in place before the query starts."""
    ids = {batches.get(f"f{i:06d}.json") for i in files}
    if len(ids) != 1 or None in ids:
        raise RuntimeError(f"backlog read by micro-batches {sorted(ids, key=str)}, expected one")
    return ids.pop()


def _read_json_dir(path: str) -> list[dict]:
    rows = []
    for p in sorted(glob.glob(os.path.join(path, "**", "part-*"), recursive=True)):
        with open(p) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def _sink_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "part-*"), recursive=True))


class Publisher(threading.Thread):
    """Generator of the live phase: file ``i`` is due at ``t0 + i * tick``.
    It is released at its due time, or, if the micro-batch that read file
    ``i - 1`` has not committed by then, at that commit
    (``committed(i - 1)``). Each live file is thus read by a micro-batch
    of its own, so batch boundaries, and with them the outputs, are a
    function of the inputs alone. ``late`` is how long after its due
    time each file was published: the generator's own lag plus any
    hold-back."""

    def __init__(self, dirname: str, blobs: list[bytes], t0: float, tick: float, first: int, committed) -> None:
        super().__init__(name="perfbench-publisher", daemon=True)
        self.dirname, self.blobs, self.t0, self.tick, self.first = dirname, blobs, t0, tick, first
        self.committed = committed
        self.due: list[float] = []
        self.late: list[float] = []
        self.stop_flag = threading.Event()

    def run(self) -> None:
        for i, blob in enumerate(self.blobs):
            due = self.t0 + i * self.tick
            wait = due - time.time()
            if wait > 0 and self.stop_flag.wait(wait):
                return
            while i and not self.committed(i - 1):
                if self.stop_flag.wait(0.002):
                    return
            _publish(self.dirname, self.first + i, blob)
            self.late.append(time.time() - due)
            self.due.append(due)


def run(wl: StreamWorkload, seed: int, seconds: int, trace: bool, tracer: Tracer) -> dict:
    """``SETUPS`` untraced cycles give the end-to-end figures; with
    ``trace`` one more cycle runs the same catch-up and live phase with
    the listener and event log on, for the per-layer figures."""
    from go_fish_spark.plans import compile_pipeline, parse_spec

    live_files = LIVE_WARMUP + int(round(seconds / wl.tick_s))
    inputs = gen.stream_inputs(
        wl.kind, seed, wl.backlog_events, wl.backlog_per_file, live_files, wl.events_per_file, wl.tick_s
    )
    res: dict = {"digest": inputs.digest()}
    spark = None
    setup_s: list[float] = []
    verdicts: list[check.Verdict] = []
    n_back = len(inputs.backlog)
    for cycle in range(SETUPS + trace):
        traced = cycle == SETUPS
        d = os.path.join(common.WORK, f"{wl.name}-{cycle}")
        _write_files(os.path.join(d, "warm", "in"), inputs.warmup)
        os.makedirs(os.path.join(d, "in"))
        if spark is not None:
            if traced:
                res.update(common.memory_mb())
                common.set_event_log(spark, True)
            spark.stop()
        t0 = time.time()
        with tracer.span("session.start", cycle=cycle):
            spark = common.start_session()
        with tracer.span("plans.parse", cycle=cycle):
            spec = parse_spec(spec_for(wl.kind, d))
            warm_spec = parse_spec(spec_for(wl.kind, os.path.join(d, "warm")))
        with tracer.span("plans.compile", cycle=cycle):
            cp = compile_pipeline(spark, spec, streaming=True)
            warm_cp = compile_pipeline(spark, warm_spec, streaming=True)
        with tracer.span("plans.start", cycle=cycle, phase="warmup"):
            warm_qs = warm_cp.start(os.path.join(d, "warm", "ckpt"), available_now=True)
        for q in warm_qs:
            q.awaitTermination()
        if not traced:
            setup_s.append(time.time() - t0)
        if cycle < SETUPS - 1:
            continue  # set-up only; the first one also starts the JVM

        probe = None
        if traced:
            from . import trace as tr

            probe = tr.StreamProbe(spark)
        _write_files(os.path.join(d, "in"), inputs.backlog)
        ck = Checkpoint(os.path.join(d, "ckpt"))
        t_start = time.time()
        with tracer.span("plans.start", cycle=cycle, phase="catchup"):
            queries = cp.start(os.path.join(d, "ckpt"))
        done = ck.wait_committed(f"f{n_back - 1:06d}.json", timeout=120)
        if done is None:
            raise RuntimeError("catch-up did not finish within 120 s")
        if traced:
            res["traced_catchup_s"] = done - t_start
        else:
            res["catchup_s"] = done - t_start

        b_back = _one_batch(ck.file_batches(), range(n_back))
        commits = ck.commits_dir()
        t_live = time.time() + 0.2
        pub = Publisher(
            os.path.join(d, "in"), inputs.live, t_live, wl.tick_s, first=n_back,
            committed=lambda j: os.path.exists(os.path.join(commits, str(b_back + 1 + j))),
        )
        pub.start()
        # the backlog when the schedule ends: files due by then that no
        # micro-batch has read, held back or unread
        time.sleep(max(0.0, t_live + live_files * wl.tick_s - time.time()))
        read = ck.file_batches()
        backlog_end = sum(f"f{n_back + j:06d}.json" not in read for j in range(live_files))
        pub.join(timeout=30)
        if pub.is_alive():
            pub.stop_flag.set()
            pub.join()
            raise RuntimeError("the engine held the publisher back by more than 30 s")
        t_end = time.time()
        ck.wait_committed(f"f{n_back + live_files - 1:06d}.json", timeout=60)
        for q in queries:
            q.stop()
        for q in queries:
            if q.exception() is not None:
                raise RuntimeError(f"query failed: {q.exception()}")

        batches = ck.file_batches()
        for j in range(live_files):
            if batches.get(f"f{n_back + j:06d}.json") != b_back + 1 + j:
                raise RuntimeError(f"live file {j} was not read by micro-batch {b_back + 1 + j} alone")
        verdicts.append(_check(wl, d, inputs.events, inputs.file_of, batches))
        # file i is released at max(due, commit of file i - 1) and read by
        # micro-batch b_back + 1 + i, checked above
        lat, lat_due = [], []
        prev = ck.commit_time(b_back)
        for i, due in enumerate(pub.due):
            t = ck.commit_time(b_back + 1 + i)
            if i >= LIVE_WARMUP:
                lat.append((t - max(due, prev)) * 1000.0)
                lat_due.append((t - due) * 1000.0)
            prev = t
        if not traced:
            res["latency_ms"] = lat
            res["latency_due_ms"] = lat_due
            res["gen_late_ms"] = [x * 1000.0 for x in pub.late]
            continue
        res["traced_latency_ms"] = lat
        res["backlog_files_end"] = backlog_end
        res["sink_files"] = sum(_sink_files(os.path.join(d, s)) for s in ("enriched", "alerts", "out"))
        res["probe"] = probe.summary(t_live + LIVE_WARMUP * wl.tick_s, t_end)
        schema = CLOUDTRAIL_SCHEMA if wl.kind == "cloudtrail" else CERT_SCHEMA
        backlog = [os.path.join(d, "in", f"f{i:06d}.json") for i in range(n_back)]
        res["task_rates"] = tr.task_rates(spark, spec, backlog, schema, tracer)
    if "peak_rss_mb" not in res:
        res.update(common.memory_mb())
    res["setup_s"] = setup_s
    res["spark"] = spark
    res["verdicts"] = verdicts
    return res


def _check(
    wl: StreamWorkload, d: str, events: list[dict], file_of: list[int], batches: dict[str, int]
) -> check.Verdict:
    if wl.kind == "cloudtrail":
        batch_of = {e["event_id"]: batches.get(f"f{file_of[e['event_id']]:06d}.json", -1) for e in events}
        return check.check_stateful(
            events, _read_json_dir(os.path.join(d, "enriched")), _read_json_dir(os.path.join(d, "alerts")), batch_of
        )
    return check.check_stateless(events, _read_json_dir(os.path.join(d, "out")))


def metrics(wl: StreamWorkload, res: dict) -> dict:
    """End-to-end figures of one stream run."""
    lat = res["latency_ms"]
    return {
        "rate_events_per_s": wl.rate,
        "events_per_s": wl.backlog_events / res["catchup_s"],
        "setup_s": median(res["setup_s"]),
        "setup_runs_s": res["setup_s"],
        "catchup_s": res["catchup_s"],
        "latency_p50_ms": median(lat),
        "latency_p95_ms": pct(lat, 95),
        "latency_samples": len(lat),
        "latency_each_ms": [round(x, 1) for x in lat],
        # from the due time even when the file was held back: grows with
        # the backlog once a micro-batch takes longer than a tick
        "latency_from_due_p50_ms": median(res["latency_due_ms"]),
        "latency_from_due_p95_ms": pct(res["latency_due_ms"], 95),
        "peak_rss_mb": res["peak_rss_mb"],
        "heap_live_mb": res["heap_live_mb"],
    }
