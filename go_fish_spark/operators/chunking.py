"""Document chunking and context-window packing — the last mile of a
training-data pipeline: turn curated documents into fixed-size token
windows and pack them into capacity-bounded training streams.

No reference analogue (the reference stops at event filtering); north-star
extensions (BASELINE.json).

100 TB design notes:
  * ``chunk_documents`` is a pure per-row map + explode — zero shuffles,
    embarrassingly parallel; output row count = Σ per-doc chunk counts.
  * ``pack_documents`` needs a running token offset, which is inherently
    ordered. A single global cumulative sum would serialize the corpus
    through ONE window partition (the classic global-window bottleneck),
    so packing is SHARDED: a deterministic md5 bucket of the doc key
    fans the corpus into ``n_shards`` independent streams, each with its
    own local cumulative offset — the window shuffles on shard, keeping
    every executor busy; a pack is identified by (shard, pack_id).
    Training jobs consume shards independently, so sharded packs are the
    natural unit anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import _let, tokens
from .sampling import hash_bucket


def chunk_documents(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    win: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token windows per document →
    ``(id_col, chunk_id, n_tokens, chunk)``.

    ``n_chunks = ceil(max(n_tokens - win, 0) / stride) + 1`` — every token
    is covered, the final window may be short, and a doc shorter than
    ``win`` yields exactly one chunk. Chunk construction is array-side
    (sequence → slice → concat over the let-bound token array, so each
    text is split once), exploded with position as ``chunk_id``.
    """
    if stride <= 0 or win <= 0:
        raise ValueError("win and stride must be positive")

    def body(w: Column) -> Column:
        n = F.size(w)
        n_chunks = (
            F.ceil(F.greatest(n - win, F.lit(0)) / F.lit(float(stride))) + 1
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.struct(
                F.least(F.lit(win), n - (i - 1) * stride).alias("n_tokens"),
                F.concat_ws(" ", F.slice(w, (i - 1) * stride + 1, win)).alias(
                    "chunk"
                ),
            ),
        )

    chunks = _let(tokens(F.col(text_col)), body)
    return docs.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "c")
    ).select(
        id_col,
        "chunk_id",
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk").alias("chunk"),
    )


def pack_documents(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    capacity: int = 2048,
    n_shards: int = 64,
) -> DataFrame:
    """Concatenate-and-cut packing: within each deterministic shard,
    documents are laid out in ``id_col`` order and the stream is cut every
    ``capacity`` tokens; a document belongs to the pack where it STARTS
    (so packs can overrun by at most one document's tail — the standard
    concat-then-chunk pretraining layout, where the cut is applied later
    at the token level).

    Returns ``(id_col, shard, pack_id, n_tokens, offset)`` with ``offset``
    the document's start position in its shard stream.
    """
    if capacity <= 0 or n_shards <= 0:
        raise ValueError("capacity and n_shards must be positive")
    n_tok = F.size(tokens(F.col(text_col)))
    shard = hash_bucket(F.col(id_col), n_shards)
    win = Window.partitionBy("shard").orderBy(id_col)
    sized = docs.select(
        F.col(id_col), shard.alias("shard"), n_tok.alias("n_tokens")
    )
    return sized.select(
        id_col,
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(win) - F.col("n_tokens")).alias("offset"),
    ).withColumn(
        "pack_id", F.floor(F.col("offset") / F.lit(capacity)).cast("bigint")
    ).select(id_col, "shard", "pack_id", "n_tokens", "offset")


def token_budget_report(df: DataFrame, text_col: str) -> DataFrame:
    """Length-distribution / token-budget report: documents binned by
    power-of-2 whitespace-token count, with per-bin doc and token totals
    and the cumulative token share — the planning pass before packing
    (:func:`pack_documents`) that answers "what sequence length covers X%
    of the corpus" and "how many packed rows will a shard hold".

    Output: (bucket_lo BIGINT — the bin's inclusive lower bound 2^k,
    n_docs, tok_total, cum_share DOUBLE rounded 6), ordered by bucket_lo.

    100 TB shape: one map-side-combined groupBy on the BOUNDED bucket key
    (≤ ~40 bins for any corpus); the cumulative window runs over those
    bins only, never the corpus. Token totals accumulate as integers —
    exact under any partitioning — and the single share division happens
    on the bounded frame."""
    n = F.size(tokens(text_col))
    # pow(2, k) is exact for integer k < 53 — and shiftleft() only takes a
    # literal bit count, not a per-row Column.
    lo = F.pow(F.lit(2.0), F.floor(F.log2(n))).cast("bigint").alias("bucket_lo")
    g = (
        df.filter(n >= 1)
        .groupBy(lo)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n).alias("tok_total"),
        )
    )
    total = g.agg(F.sum("tok_total").alias("_t"))
    win = Window.orderBy("bucket_lo").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.crossJoin(F.broadcast(total))
        .withColumn(
            "cum_share",
            F.round(
                F.sum("tok_total").over(win).cast("double") / F.col("_t"), 6
            ),
        )
        .select("bucket_lo", "n_docs", "tok_total", "cum_share")
        .orderBy("bucket_lo")
    )


def pack_purity_profile(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    capacity: int = 2048,
    n_shards: int = 64,
) -> DataFrame:
    """Pack-PURITY audit over :func:`pack_documents`' layout: how much
    cross-source contamination does concatenate-and-cut packing create?
    Every pack that mixes sources trains attention across a document
    boundary the curriculum never intended (the reason production
    packers add boundary masks or source-partitioned streams) — this
    measures the exposure before anyone pays for either fix.

    Per pack: token-weighted majority-source share (purity). Output is
    the BOUNDED histogram (n_sources, purity_bin, n_packs, tok_total)
    ordered by (n_sources, purity_bin), where purity_bin = the 0.1-wide
    bin index 0–9 (pure single-source packs land in bin 9 with
    n_sources = 1).

    Integer discipline: token counts aggregate exactly; the one purity
    division is IEEE-identical cross-engine (same ints in, same op), and
    binning floors the raw double — no rounding boundary to disagree on.

    100 TB shape: rides x25's md5-sharded offset windows (parallel per
    shard, never a global sort); the per-(pack, source) token agg is
    map-side combined; the histogram itself is a ≤ |sources|·10-key
    aggregate."""
    packed = pack_documents(docs, id_col, text_col, capacity, n_shards)
    src = docs.select(F.col(id_col), F.col(source_col).alias("_src"))
    ps = (
        packed.join(src, id_col)
        .groupBy("shard", "pack_id", "_src")
        .agg(F.sum("n_tokens").alias("_tok"))
    )
    per_pack = ps.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("_tok").alias("_tot"),
        F.max("_tok").alias("_mx"),
    )
    purity = F.col("_mx").cast("double") / F.col("_tot").cast("double")
    binned = per_pack.select(
        "n_sources",
        F.least(F.floor(purity * 10).cast("int"), F.lit(9)).alias(
            "purity_bin"
        ),
        "_tot",
    )
    return (
        binned.groupBy("n_sources", "purity_bin")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("_tot").cast("bigint").alias("tok_total"),
        )
        .select(
            F.col("n_sources").cast("bigint").alias("n_sources"),
            "purity_bin",
            "n_packs",
            "tok_total",
        )
        .orderBy("n_sources", "purity_bin")
    )
