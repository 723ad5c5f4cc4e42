"""Sequence packing: the concatenate-and-chunk step of a pretraining
data pipeline (every document's tokens are laid end-to-end in a fixed
corpus order and cut into fixed-size training sequences; each doc is
assigned the chunk its FIRST token lands in).

The assignment is a pure function of (doc set, budget): pack_id =
floor(exclusive_prefix_sum(n_tokens, over doc_id order) / budget).

Scale shape — the whole point of this module: the naive expression is
``sum(...) over (order by doc_id rows unbounded preceding)``, and a
Spark Window with a global ORDER BY and no PARTITION BY collapses the
entire corpus into ONE task. Instead the prefix sum is computed the
way a 1000-executor cluster has to:

1. per-range partial sums — range = floor(doc_id / range_size); docIDs
   are dense (index/build.assign_doc_ids), so ranges are balanced;
2. a driver-side running sum over the |ranges| partials (metadata-
   sized: n_docs / range_size rows — size range_size so this stays
   ~1e6 rows at the target corpus) broadcast back as range offsets;
3. a within-range window cumsum (partitioned by range — parallel).

Same two-pass shape as assign_doc_ids' count-then-number (per-partition
counts, then their running sums as offsets)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.analysis import tokens_col


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    range_size: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, pack_id) ordered by doc_id; pack_id =
    floor(exclusive prefix sum of n_tokens in doc_id order / budget).
    Deterministic for a given (doc set, budget) — range_size only
    changes the execution plan, never the assignment (pinned by
    test)."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col(text_col)).cast("long").alias("n_tokens"),
        F.floor(F.col(id_col) / range_size).cast("long").alias("rng"),
    )
    # pass 1: per-range totals (tiny: n_docs / range_size rows)
    partials = toks.groupBy("rng").agg(F.sum("n_tokens").alias("rng_sum")).collect()
    offsets, run = [], 0
    for r in sorted(partials, key=lambda r: r.rng):
        offsets.append((r.rng, run))
        run += r.rng_sum
    off_df = docs.sparkSession.createDataFrame(
        offsets, "rng long, rng_offset long"
    )
    # pass 2: within-range exclusive cumsum, shifted by the offset
    w = (
        Window.partitionBy("rng")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + F.col("rng_offset")
    return (
        toks.join(F.broadcast(off_df), "rng")
        .select(
            "doc_id",
            "n_tokens",
            F.floor(cum_excl / budget).cast("long").alias("pack_id"),
        )
        .orderBy("doc_id")
    )



def chunk_windows(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document sliding-window chunking — the RAG / long-document
    preprocessing step pack_sequences deliberately is not: instead of
    laying docs end-to-end, each document splits into overlapping
    token windows (window tokens every stride tokens, overlap =
    window - stride). Chunk k covers tokens [k*stride+1,
    k*stride+window] 1-based; a document emits ceil(n/stride) chunks
    (every token is covered, trailing chunks run short — the standard
    naive chunker contract, all-integer). Returns (doc_id, chunk_id,
    start_token, n_tokens, chunk_text) ordered by (doc_id, chunk_id)
    — a bespoke total order (doc_id unique per doc, chunk_id dense).

    Scale shape: one scan, tokenize once, posexplode of a per-doc
    ceil(n/stride)-element sequence, JVM array slice + join — no
    shuffle at all until the gate-determinism orderBy (which a real
    pipeline drops); output rows ~ corpus tokens / stride."""
    if window <= 0 or stride <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        raise ValueError("stride > window would skip tokens")
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("t")
    ).filter(F.size("t") > 0)
    n_chunks = F.expr(f"(size(t) + {int(stride)} - 1) div {int(stride)}")
    k = F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_k")
    exploded = base.select("doc_id", "t", k).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.slice(F.col("t"), F.col("chunk_id") * stride + 1, window).alias("_c"),
    )
    return exploded.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * stride + 1).cast("long").alias("start_token"),
        F.size("_c").cast("long").alias("n_tokens"),
        F.array_join("_c", " ").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_id")
