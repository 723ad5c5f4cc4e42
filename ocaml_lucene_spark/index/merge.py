"""Segment merge: Lucene-style tiered policy as a bounded shuffle.

The reference only *reads* merged output (multi-segment manifests,
/root/reference/codec/segments.ml:106-115); the north rule requires the
merge itself, mirroring Lucene's TieredMergePolicy: segments are
grouped into size tiers and the smallest ``merge_factor`` segments of
an over-full tier are merged into one.

Merge = read the candidate segments' packed blocks with their known
columns (no schema-inference job) and give each block row its target
salt in the JVM: 0 for an unsalted block, one row per bucket of the
merged doc span its [first_doc, last_doc] touches for a salted one ->
the union of the source norms less the purged docs (an anti-join with
deletes.deleted_frame, built in the JVM), written by build's norms
writer, whose Observation gives n_docs/sum_dl ->
segments.write_segment, the same writer build and import end in: one
hash shuffle of the BLOCKS on (term, salt), a JVM sort by (term, salt,
first_doc), and the pack task decodes each batch (``decode_blocks``:
codecs.blocks.decode_postings, the block decoder every postings reader
shares, less the purged docs, keeping each row's own salt) before
packing and yielding the terms stats -> new segment + manifest rows
marking sources 'merged'. One Python stage in all; the pack sees the
same rows a postings shuffle would have given it. Because docIDs are
global and BM25 stats aggregate across live segments, queries are
invariant under merge (tested) — merge is purely a layout/locality
operation, exactly like Lucene's.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import segments as seg
from .build import _write_norms


def select_merges(
    segments: list[dict],
    merge_factor: int = 4,
    max_merged_bytes: int = 10 * 1024**3,
) -> list[list[str]]:
    """Tiered selection: sort live segments by packed size; a tier is a
    run of segments within 8x of each other; any tier with >=
    merge_factor members yields one merge of its smallest members."""
    live = sorted(
        (r for r in segments if r["status"] == "live"),
        key=lambda r: r["bytes_packed"],
    )
    merges: list[list[str]] = []
    tier: list[dict] = []
    for r in live:
        if tier and r["bytes_packed"] > max(8 * tier[0]["bytes_packed"], 1):
            tier = []
        tier.append(r)
        if len(tier) >= merge_factor:
            total = sum(t["bytes_packed"] for t in tier)
            if total <= max_merged_bytes:
                merges.append([t["segment"] for t in tier])
            tier = []
    return merges


def decode_blocks(
    batch,
    deleted: np.ndarray | None,
    lo: int,
    span: int,
    n_salts: int,
    with_positions: bool,
    with_offsets: bool,
):
    """Merge's decode kernel: one Arrow batch of packed block rows
    (term, block_no, doc_bytes, tf_bytes, dl_bytes[, pos_bytes]
    [, off_bytes][, salt]) -> one RecordBatch of postings rows (term,
    salt, doc_id, tf, dl[, positions][, starts]); None when no row is
    left.

    The streams decode through codecs.blocks.decode_postings, which
    drops the docs in the sorted ``deleted`` ids (None: purge nothing).
    Rows of a salted block (block_no >= 100_000) re-bucket over the
    merged doc span [lo, lo + span) into salts 1..n_salts, so the merged
    segment keeps doc-contiguous salt ranges; every other row stays
    salt 0 (one run, fewer blocks). A batch with a ``salt`` column (the
    row's target salt, as merge_segments gives each block one row per
    salt its doc range touches) keeps only the postings of that salt."""
    import pyarrow as pa

    from ..codecs.blocks import decode_postings, occurrence_lists

    streams = ["doc_bytes", "tf_bytes", "dl_bytes"]
    streams += ["pos_bytes"] if with_positions else []
    streams += ["off_bytes"] if with_offsets else []
    d = decode_postings(batch.select(streams), deleted)
    docs, row = d["doc_id"], d["row"]
    if not docs.size:
        return None
    salted = (batch.column("block_no").to_numpy(zero_copy_only=False) // 100_000 > 0)[row]
    salt = np.where(
        salted, 1 + np.minimum(n_salts - 1, (docs - lo) * n_salts // span), 0
    )
    if "salt" in batch.schema.names:
        keep = salt == batch.column("salt").to_numpy(zero_copy_only=False)[row]
        if not keep.all():
            occ = np.repeat(keep, d["tf"])
            d = {k: v[occ if k in ("positions", "starts") else keep] for k, v in d.items()}
            docs, row, salt = d["doc_id"], d["row"], salt[keep]
            if not docs.size:
                return None
    cols = {
        "term": batch.column("term").take(pa.array(row)),
        "salt": pa.array(salt, pa.int32()),
        "doc_id": pa.array(docs),
        "tf": pa.array(d["tf"]),
        "dl": pa.array(d["dl"]),
    }
    for k in ("positions", "starts"):
        if k in d:
            cols[k] = occurrence_lists(d[k], d["tf"])
    return pa.RecordBatch.from_pydict(cols)


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    segment_names: list[str],
    n_partitions: int | None = None,
    n_salts: int = 16,
    purge_deleted: bool = True,
) -> dict | None:
    """Merge the named segments into one new segment; returns its
    manifest row.

    purge_deleted (default): Lucene merge semantics — deleted docs'
    postings and norms are dropped while blocks are rewritten, the
    merged stats exclude them, and the purged ids leave the deletes
    files (they no longer exist anywhere). Deletes covering segments
    NOT in this merge stay recorded. A group whose every doc is deleted
    is dropped: its sources are retired, its ids leave the deletes
    files, no segment is published and None is returned."""
    t0 = time.monotonic()
    from . import deletes as del_mod

    deleted = del_mod.deleted_ids(index_dir) if purge_deleted else None
    if deleted is not None and not deleted.size:
        deleted = None
    rows = {r["segment"]: r for r in seg.list_segments(index_dir, live_only=False)}
    sources = [rows[s] for s in segment_names]
    # Lucene-style lowest-common index options: a merge group mixing
    # positions and docs-only segments degrades the merged segment to
    # DOCS_AND_FREQS explicitly (a docs-only source has no positions to
    # carry; reading pos_bytes=None rows would otherwise crash mid-job).
    src_stats = [seg.read_stats(index_dir, s) for s in segment_names]
    with_positions = all(bool(st.get("with_positions")) for st in src_stats)
    with_offsets = all(bool(st.get("with_offsets")) for st in src_stats)

    # the blocks' known columns: no footer-inference job
    block_schema = (
        "term string, block_no int, first_doc long, last_doc long, "
        "doc_bytes binary, tf_bytes binary, dl_bytes binary"
        + (", pos_bytes binary" if with_positions else "")
        + (", off_bytes binary" if with_offsets else "")
    )
    blocks = spark.read.schema(block_schema).parquet(
        *[seg.segment_paths(index_dir, s)["postings"] for s in segment_names]
    )

    # merged doc-id span (the sources' norms footers): salted rows are
    # re-bucketed over it so the merged segment keeps the doc-contiguous
    # salt property WAND pruning relies on; each block row gets its
    # target salt(s) here, and its postings are decoded in the pack task
    bounds = seg.doc_bounds(index_dir, segment_names)
    m_lo, m_span = (bounds[0], bounds[1] - bounds[0] + 1) if bounds else (0, 1)

    def salt_of(doc: str):
        return F.expr(
            f"1 + least({n_salts - 1}, ({doc} - {m_lo}) * {n_salts} div {m_span})"
        ).cast("int")

    blocks = blocks.withColumn(
        "salt",
        F.explode(
            F.when(F.col("block_no") < 100_000, F.array(F.lit(0))).otherwise(
                F.sequence(salt_of("first_doc"), salt_of("last_doc"))
            )
        ),
    ).drop("last_doc")

    def decode(batch):
        return decode_blocks(
            batch, deleted, m_lo, m_span, n_salts, with_positions, with_offsets
        )

    generation = seg.next_generation(index_dir)
    new_name = f"merged{generation:06d}"
    paths = seg.segment_paths(index_dir, new_name)

    # norms = union of source norms, less the purged docs (Lucene merge:
    # the rewritten segment no longer contains them anywhere)
    norm_paths = [seg.segment_paths(index_dir, s)["norms"] for s in segment_names]
    norms_src = spark.read.schema("doc_id long, dl long").parquet(*norm_paths)
    purged_ids: list[int] = []
    if deleted is not None:
        dd = del_mod.deleted_frame(spark, deleted)
        purged_ids = [
            r.doc_id for r in norms_src.join(dd, "doc_id").select("doc_id").collect()
        ]
        norms_src = norms_src.join(dd, "doc_id", "left_anti")
    if purged_ids and len(purged_ids) == sum(int(r["n_docs"]) for r in sources):
        # every doc of the group is deleted: drop the group the way
        # Lucene drops a fully deleted segment — retire the sources and
        # publish nothing (no norms, postings or manifest row)
        manifest_row = None
    else:
        corpus = _write_norms(norms_src, paths["norms"])
        manifest_row = seg.write_segment(
            blocks, index_dir, new_name, generation,
            n_docs=int(corpus["n_docs"]), sum_dl=int(corpus["sum_dl"] or 0),
            source="merge", started=t0,
            with_positions=with_positions, with_offsets=with_offsets,
            n_partitions=n_partitions, merged_from=segment_names,
            decode=decode,
        )
    if purged_ids:
        # purged ids are physically gone: rewrite the deletes files
        # keeping only ids that still exist in NON-merged segments
        remaining = sorted(set(int(i) for i in deleted) - set(purged_ids))
        del_mod.rewrite_deletes(index_dir, remaining)
    # retire sources (newer generation rows win in list_segments)
    for s in sources:
        retired = dict(s)
        retired["status"] = "merged"
        retired["generation"] = generation
        seg.write_manifest_row(index_dir, retired)
    return manifest_row


def maybe_merge(
    spark: SparkSession, index_dir: str, merge_factor: int = 4, **kw
) -> list[dict]:
    """Run the tiered policy until no merge is selected. Returns the
    manifest rows of the merges that published a segment (a fully
    deleted group publishes none)."""
    done = []
    while True:
        merges = select_merges(seg.list_segments(index_dir), merge_factor)
        if not merges:
            return done
        for group in merges:
            row = merge_segments(spark, index_dir, group, **kw)
            if row is not None:
                done.append(row)
