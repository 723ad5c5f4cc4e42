"""Segment merge: Lucene-style tiered policy as a bounded shuffle.

The reference only *reads* merged output (multi-segment manifests,
/root/reference/codec/segments.ml:106-115); the north rule requires the
merge itself, mirroring Lucene's TieredMergePolicy: segments are
grouped into size tiers and the smallest ``merge_factor`` segments of
an over-full tier are merged into one.

Merge = decode candidate segments' blocks (mapInPandas numpy) ->
one hash shuffle on (term, salt) bounded to the merged segments' data
-> re-pack with the same kernel as build -> new segment + manifest
rows marking sources 'merged'. Because docIDs are global and BM25
stats aggregate across live segments, queries are invariant under
merge (tested) — merge is purely a layout/locality operation, exactly
like Lucene's.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import segments as seg


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


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    segment_names: list[str],
    n_partitions: int | None = None,
    n_salts: int = 16,
    purge_deleted: bool = True,
) -> dict:
    """Merge the named segments into one new segment.

    purge_deleted (default): Lucene merge semantics — deleted docs'
    postings and norms are dropped while blocks are rewritten, the
    merged stats exclude them, and the purged ids leave the deletes
    files (they no longer exist anywhere). Deletes covering segments
    NOT in this merge stay recorded."""
    t0 = time.monotonic()
    from . import deletes as del_mod

    deleted = del_mod.deleted_ids(index_dir) if purge_deleted else None
    if deleted is not None and not deleted.size:
        deleted = None
    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    rows = {r["segment"]: r for r in seg.list_segments(index_dir, live_only=False)}
    sources = [rows[s] for s in segment_names]
    # Lucene-style lowest-common index options: a merge group mixing
    # positions and docs-only segments degrades the merged segment to
    # DOCS_AND_FREQS explicitly (a docs-only source has no positions to
    # carry; reading pos_bytes=None rows would otherwise crash mid-job).
    src_stats = [seg.read_stats(index_dir, s) for s in segment_names]
    with_positions = all(bool(st.get("with_positions")) for st in src_stats)
    with_offsets = all(bool(st.get("with_offsets")) for st in src_stats)

    posting_paths = [
        seg.segment_paths(index_dir, s)["postings"] for s in segment_names
    ]
    blocks = spark.read.parquet(*posting_paths)

    # merged doc-id span (the sources' norms footers): salted rows are
    # re-bucketed over it below so the merged segment keeps the
    # doc-contiguous salt property WAND pruning relies on
    bounds = seg.doc_bounds(index_dir, segment_names)
    m_lo, m_span = (bounds[0], bounds[1] - bounds[0] + 1) if bounds else (0, 1)
    n_salts_merged = n_salts

    pos_schema = (
        "term string, salt int, doc_id long, tf long, dl long"
        + (", positions array<long>" if with_positions else "")
        + (", starts array<long>" if with_offsets else "")
    )

    def unpack(batches):
        import numpy as np
        import pandas as pd

        from ..codecs import pfor
        from ..codecs.blocks import decode_positions
        from ..codecs.delta import delta_decode

        for pdf in batches:
            outs = []
            ob_col = (
                pdf["off_bytes"] if "off_bytes" in pdf.columns else [None] * len(pdf)
            )
            for term, bno, n, db, tb, lb, pb, ob in zip(
                pdf["term"], pdf["block_no"], pdf["n"], pdf["doc_bytes"],
                pdf["tf_bytes"], pdf["dl_bytes"], pdf["pos_bytes"], ob_col,
            ):
                docs = delta_decode(bytes(db))
                tf = pfor.decode(bytes(tb), int(n)).astype(np.int64)
                dl = pfor.decode(bytes(lb), int(n)).astype(np.int64)
                pos_arr = decode_positions(bytes(pb), tf) if with_positions else None
                off_arr = decode_positions(bytes(ob), tf) if with_offsets else None
                if deleted is not None:
                    keep = ~np.isin(docs, deleted)
                    if not keep.all():
                        # positions/starts are per-doc list columns:
                        # keep the kept docs' lists
                        if pos_arr is not None:
                            pos_arr = [a for a, k in zip(pos_arr, keep) if k]
                        if off_arr is not None:
                            off_arr = [a for a, k in zip(off_arr, keep) if k]
                        docs, tf, dl = docs[keep], tf[keep], dl[keep]
                        if not docs.size:
                            continue
                # hot (salted) rows re-bucket over the merged doc span;
                # unsalted terms stay salt 0 (one run, fewer blocks)
                if int(bno) // 100_000 > 0:
                    salt = 1 + np.minimum(
                        n_salts_merged - 1,
                        (docs - m_lo) * n_salts_merged // m_span,
                    ).astype(np.int64)
                else:
                    salt = np.zeros(docs.size, dtype=np.int64)
                d = {
                    "term": term,
                    "salt": salt,
                    "doc_id": docs,
                    "tf": tf,
                    "dl": dl,
                }
                if with_positions:
                    d["positions"] = pos_arr
                if with_offsets:
                    # offsets stream shares the positions framing
                    d["starts"] = off_arr
                outs.append(pd.DataFrame(d))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    postings = blocks.mapInPandas(unpack, pos_schema)

    generation = seg.next_generation(index_dir)
    new_name = f"merged{generation:06d}"
    paths = seg.segment_paths(index_dir, new_name)

    shuffled = postings.repartition(n_parts, "term", "salt").withColumn(
        "pid", F.spark_partition_id()
    )

    def pack_iter(batches):
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        yield seg.pack_partition(
            pdf, new_name, paths["postings"], paths["checkpoints"], with_positions,
            with_offsets=with_offsets,
        )

    ckpt_rows = shuffled.mapInPandas(pack_iter, seg.CHECKPOINT_SCHEMA).collect()

    # terms stats from packed metadata; norms = union of source norms
    (
        spark.read.parquet(paths["postings"])
        .groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("ttf"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(paths["terms"])
    )
    norm_paths = [seg.segment_paths(index_dir, s)["norms"] for s in segment_names]
    norms_src = spark.read.parquet(*norm_paths)
    purged_ids: list[int] = []
    if deleted is not None:
        # purge deleted docs from norms + stats (Lucene merge: the
        # rewritten segment no longer contains them anywhere)
        dd = spark.createDataFrame([(int(i),) for i in deleted], "doc_id long")
        purged_ids = [
            r.doc_id for r in norms_src.join(F.broadcast(dd), "doc_id").collect()
        ]
        norms_src = norms_src.join(F.broadcast(dd), "doc_id", "left_anti")
    norms_src.write.mode("overwrite").parquet(paths["norms"])

    if deleted is not None:
        agg_row = spark.read.parquet(paths["norms"]).agg(
            F.count("*"), F.sum("dl")
        ).first()
        n_docs = int(agg_row[0] or 0)
        sum_dl = int(agg_row[1] or 0)
    else:
        n_docs = sum(r["n_docs"] for r in sources)
        sum_dl = sum(r["sum_dl"] for r in sources)
    seg.write_stats(
        index_dir,
        new_name,
        {
            "segment": new_name,
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "avgdl": sum_dl / n_docs if n_docs else 0.0,
            "with_positions": with_positions,
            "with_offsets": with_offsets,
            "index_options": (
                "DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS"
                if with_offsets
                else "DOCS_AND_FREQS_AND_POSITIONS"
                if with_positions
                else "DOCS_AND_FREQS"
            ),
            "merged_from": segment_names,
        },
    )
    elapsed = time.monotonic() - t0
    n_postings = sum(r.n_postings or 0 for r in ckpt_rows)
    manifest_row = {
        "segment": new_name,
        "generation": generation,
        "status": "live",
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "n_postings": int(n_postings),
        "bytes_packed": int(sum(r.bytes_packed or 0 for r in ckpt_rows)),
        "n_partitions": len(ckpt_rows),
        "elapsed_sec": elapsed,
        "docs_per_sec": n_docs / elapsed if elapsed else 0.0,
        "postings_per_sec": n_postings / elapsed if elapsed else 0.0,
        "source": "merge",
        "merged_from": segment_names,
    }
    seg.write_manifest_row(index_dir, manifest_row)
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
    """Run the tiered policy until no merge is selected."""
    done = []
    while True:
        merges = select_merges(seg.list_segments(index_dir), merge_factor)
        if not merges:
            return done
        for group in merges:
            done.append(merge_segments(spark, index_dir, group, **kw))
