"""Batch curation workload over a seeded corpus written to parquet.

The flow, through the public ``catalog`` / ``functions`` / ``operators``
API: read -> ``functions.text`` gates -> exact dedup ->
``audit.dedup_audit`` (Jaccard pair join + ``graph.connected_components``)
-> ``decontam.decontaminate`` against the probe slice (``doc_id % 97 ==
0``) -> ``sampling.split_assign`` -> parquet write.

A run makes one set-up (session start + one pass over a small warm-up
corpus), then repeats timed passes over the measured corpus, each into a
fresh output directory, until ``--seconds`` have passed (at least
``MIN_PASSES``). A pass is timed from the start of the read to the end of
the parquet write. Every pass's output is checked.
"""

from __future__ import annotations

import os
import time

from . import check, common, gen
from .common import Tracer, median, pct

N_DOCS = 1000
WARM_DOCS = 300
MIN_PASSES = 2
SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}


def write_corpus(spark, docs: list[dict], d: str) -> str:
    """Write the corpus as the catalog's ``documents`` table under ``d``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    cols = {k: [x[k] for x in docs] for k in ("doc_id", "source", "lang", "text")}
    table = pa.table({**cols, "doc_id": pa.array(cols["doc_id"], pa.int64())})
    pq.write_table(table, os.path.join(d, "documents.parquet"), row_group_size=2000)
    return d


def curate(spark, corpus_dir: str, out: str, tracer: Tracer, stages: bool):
    """One pass. ``stages`` materialises each stage inside its own span
    (traced run only), so per-stage time is measured where it is spent."""
    from pyspark.sql import functions as F

    from go_fish_spark.catalog import table
    from go_fish_spark.functions import text as tx
    from go_fish_spark.operators import audit, decontam, dedup
    from go_fish_spark.operators.sampling import split_assign

    def stage(name: str, df):
        if not stages:
            return df
        with tracer.span(name):
            df = df.persist()
            df.count()
        return df

    docs = stage("catalog.read", table(spark, corpus_dir, "documents"))
    gated = stage("functions.text.gates", docs.filter(
        tx.gopher_keep(tx.gopher_flags(tx.gopher_metrics("text")))
        & (tx.lang_id("text") == "en")
        & (tx.quality_score("text") >= check.QUALITY_BAR)
    ))
    keep = dedup.exact_dedup(gated, "doc_id", "text").select(F.col("canonical_id").alias("doc_id"))
    uniq = stage("operators.dedup.exact", gated.join(keep, "doc_id", "left_semi"))
    pairs = None
    if stages:
        pairs = stage("operators.dedup.pairs", dedup.ngram_jaccard_pairs(uniq, "doc_id", "text", k=3, threshold=0.3))
    with tracer.span("operators.graph.cc"), _count_checkpoints(stages) as rounds:
        au = audit.dedup_audit(uniq, "doc_id", "text", tx.quality_score("text"), pairs=pairs)
    canon = uniq.join(au.canonical.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi")
    probe = F.col("doc_id") % check.PROBE_MOD == 0
    clean = stage("operators.decontam", decontam.decontaminate(
        canon.filter(~probe), docs.filter(probe), "doc_id", "text", k=3
    ))
    split = stage("operators.sampling.split", clean.select("doc_id", "source", split_assign("doc_id", SPLITS)))
    with tracer.span("sink.write"):
        split.write.mode("overwrite").parquet(out)
    info = {"cc_rounds": rounds[0] - 1 if rounds else None}
    if stages:
        info["uniq_ids"] = [r.doc_id for r in uniq.select("doc_id").collect()]
        info["verified_pairs"] = pairs.count()
    # The dedup operators keep their intermediate frames cached; drop them
    # so no pass reuses an earlier pass's cache.
    spark.catalog.clearCache()
    return info


class _count_checkpoints:
    """Counts ``localCheckpoint`` calls while active (traced run only):
    connected components checkpoints its labels once to seed and once
    per round."""

    def __init__(self, on: bool) -> None:
        self.on = on
        self.n = [0]

    def __enter__(self):
        if not self.on:
            return None
        from pyspark.sql.classic.dataframe import DataFrame

        self.orig = DataFrame.localCheckpoint
        n = self.n

        def counted(df, *a, **kw):
            n[0] += 1
            return self.orig(df, *a, **kw)

        DataFrame.localCheckpoint = counted
        return n

    def __exit__(self, *exc):
        if self.on:
            from pyspark.sql.classic.dataframe import DataFrame

            DataFrame.localCheckpoint = self.orig
        return False


def _read_output(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "split"])
    return [{"doc_id": i, "split": s} for i, s in zip(t.column("doc_id").to_pylist(), t.column("split").to_pylist())]


def run(seed: int, seconds: int, trace: bool, tracer: Tracer) -> dict:
    corpus = gen.corpus(seed, N_DOCS)
    warm = gen.corpus(seed ^ 0x5EED, WARM_DOCS)
    work = os.path.join(common.WORK, "curation")
    t0 = time.time()
    with tracer.span("session.start"):
        spark = common.start_session()
    warm_dir = write_corpus(spark, warm.docs, os.path.join(work, "warm"))
    curate(spark, warm_dir, os.path.join(work, "warm-out"), Tracer(), stages=False)
    setup_s = time.time() - t0
    corpus_dir = write_corpus(spark, corpus.docs, os.path.join(work, "corpus"))

    pass_s: list[float] = []
    verdicts: list[check.Verdict] = []
    want = check.expected_survivors(corpus.docs, corpus.families)
    t_end = time.time() + seconds
    while len(pass_s) < MIN_PASSES or time.time() < t_end:
        out = os.path.join(work, f"out{len(pass_s)}")
        t = time.time()
        curate(spark, corpus_dir, out, Tracer(), stages=False)
        pass_s.append(time.time() - t)
        verdicts.append(check.check_curation(corpus.docs, corpus.families, _read_output(out), want))

    res = {
        "digest": corpus.digest(),
        "setup_s": [setup_s],
        "pass_s": pass_s,
        "n_docs": len(corpus.docs),
        "verdicts": verdicts,
        **common.memory_mb(),
    }
    if trace:
        from . import trace as tr

        common.set_event_log(spark, True)
        spark.stop()
        spark = common.start_session()
        out = os.path.join(work, "out-traced")
        t = time.time()
        info = curate(spark, corpus_dir, out, tracer, stages=True)
        res["traced_pass_s"] = time.time() - t
        verdicts.append(check.check_curation(corpus.docs, corpus.families, _read_output(out), want))
        info["candidate_pairs"] = tr.candidate_pairs(corpus.docs, info.pop("uniq_ids"))
        res["stages"] = info
    res["spark"] = spark
    return res


def metrics(res: dict) -> dict:
    p = [s * 1000.0 for s in res["pass_s"]]
    return {
        "setup_s": median(res["setup_s"]),
        "events_per_s": res["n_docs"] / median(res["pass_s"]),
        "latency_p50_ms": median(p),
        "latency_p95_ms": pct(p, 95),
        "latency_samples": len(p),
        "pass_s": res["pass_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "heap_live_mb": res["heap_live_mb"],
    }
