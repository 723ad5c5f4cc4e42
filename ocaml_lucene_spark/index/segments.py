"""Segment format: term-sorted packed-postings parquet + stats + manifest.

The reference reads Lucene segments: .si (segment info), .fnm (field
schema), .tim/.tip/.tmd (terms dict + FST index + stats), .doc/.pos
(postings streams) — SURVEY.md §1.1. Our Spark-first re-expression of
each piece:

| Lucene file              | here                                         |
|--------------------------|----------------------------------------------|
| segments_N manifest      | index_dir/manifest/*.json rows (generations)  |
| .si per-segment info     | segment row in the manifest (+ metrics)       |
| .fnm field infos         | stats.json index_options + input schema      |
| .tim terms dict blocks   | postings parquet sorted by term (row-group    |
|                          | min/max term stats = zone maps = floor blocks)|
| .tip FST terms index     | parquet row-group pruning (+ optional fst/)   |
| .tmd per-field stats     | terms parquet (term, df, ttf) + stats.json    |
| .doc/.pos postings       | packed binary columns (delta+FOR/PFOR blocks) |
| norms doc-values         | dl_bytes stream inlined per block             |
| multi-level skip lists   | first_doc/last_doc/max_tf/min_dl columns      |

A segment here is a *generation* of the index: one build (or merge)
over a set of docs with globally-unique docIDs. Within a segment the
postings table is hash-partitioned by (term, salt) — deterministic for
resume, hot terms split across partitions — and term-sorted within
files so Catalyst prunes row groups on term predicates.

Cited reference semantics: block size 128
(codec/block_tree_terms_reader.ml:27-28), per-field stats invariants
(meta_file_reader.ml:90-98), segment generations (segments.ml:106-115).
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np

POSTINGS_SCHEMA = (
    "term string, block_no int, n int, first_doc long, last_doc long, "
    "max_tf int, sum_tf long, min_dl int, ub_tfs array<int>, "
    "ub_dls array<int>, doc_bytes binary, tf_bytes binary, "
    "dl_bytes binary, pos_bytes binary, off_bytes binary"
)

CHECKPOINT_SCHEMA = (
    "segment string, partition_id int, min_term string, max_term string, "
    "n_terms long, n_postings long, n_blocks long, bytes_packed long, "
    "elapsed_sec double, postings_per_sec double, status string, "
    "fingerprint string"
)

# what the pack kernel returns per partition: its checkpoint row plus
# its shard's (term, df, ttf) rows
PACK_SCHEMA = CHECKPOINT_SCHEMA + ", term string, df long, ttf long"


def segment_paths(index_dir: str, segment: str) -> dict[str, str]:
    base = os.path.join(index_dir, "segments", segment)
    return {
        "base": base,
        "postings": os.path.join(base, "postings"),
        "terms": os.path.join(base, "terms"),
        "norms": os.path.join(base, "norms"),
        "stats": os.path.join(base, "stats.json"),
        "checkpoints": os.path.join(index_dir, "checkpoints", segment),
        "manifest": os.path.join(index_dir, "manifest"),
    }


def _hash_string_array(h, arr) -> None:
    """Feed a pyarrow StringArray's content (normalized offsets + data
    slice) into a hashlib object — no per-row Python strings."""
    import numpy as np
    import pyarrow as pa

    n = len(arr)
    if n == 0:
        return
    off_buf = arr.buffers()[1]
    width = np.int64 if arr.type.equals(pa.large_string()) else np.int32
    offsets = np.frombuffer(off_buf, dtype=width)[arr.offset : arr.offset + n + 1]
    data = arr.buffers()[2]
    h.update(np.ascontiguousarray(offsets - offsets[0]).tobytes())
    h.update(data[int(offsets[0]) : int(offsets[-1])])


def pack_table(
    table,
    pid: int,
    segment: str,
    postings_dir: str,
    checkpoint_dir: str,
    with_positions: bool,
    with_offsets: bool = False,
):
    """Arrow-native pack kernel (runs under mapInArrow in
    ``write_segment``): shuffle partition ``pid``'s (term, salt, doc_id,
    tf, dl[, positions][, starts]) rows -> packed block rows
    written as a term-sorted parquet shard; returns a PACK_SCHEMA table
    of the checkpoint/metrics row and the shard's (term, df, ttf) rows
    (None for an empty input).

    Arrow end to end: term strings stay in Arrow buffers (never
    materialized as Python str objects — the pandas object-string heap
    was the measured cross-kernel GC/memory-bandwidth contention when 8
    pack kernels share one local JVM host), numeric columns are
    zero-copy numpy views, and positions flatten from the ListArray
    value buffer.

    Resumable: if this partition's shard + checkpoint already exist
    with the same content fingerprint, the write is skipped and the
    existing checkpoint row is returned with the term rows (build DAG
    restart without recompute).
    """
    import hashlib

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..codecs.blocks import encode_posting_blocks

    t0 = time.monotonic()
    n = table.num_rows
    if n == 0:
        return None
    table = table.combine_chunks()

    def col(name):
        c = table.column(name)
        return c.chunk(0) if isinstance(c, pa.ChunkedArray) else c

    doc_ids = col("doc_id").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    salts = col("salt").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)

    def term_meta():
        """(terms StringArray, term_eq bool[n-1], terms_ok) for the
        current table order."""
        t = col("term")
        if n > 1:
            hi, lo = t.slice(1), t.slice(0, n - 1)
            eq = pc.equal(hi, lo).to_numpy(zero_copy_only=False)
            ok = bool(pc.all(pc.greater_equal(hi, lo)).as_py())
        else:
            eq, ok = np.zeros(0, dtype=bool), True
        return t, eq, ok

    # input is JVM-sorted by (term, salt, doc_id); verify cheaply in
    # Arrow/numpy and only fall back to an Arrow sort if broken
    terms, term_eq, terms_ok = term_meta()
    if n > 1:
        same_group = term_eq & (salts[1:] == salts[:-1])
        docs_ok = bool((~same_group | (np.diff(doc_ids) > 0)).all())
    else:
        docs_ok = True
    if not (terms_ok and docs_ok):
        idx = pc.sort_indices(
            table,
            sort_keys=[
                ("term", "ascending"), ("salt", "ascending"), ("doc_id", "ascending"),
            ],
        )
        table = table.take(idx).combine_chunks()
        doc_ids = col("doc_id").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        salts = col("salt").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        terms, term_eq, _ = term_meta()
    tfs = col("tf").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    dls = col("dl").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    # the terms-dict (.tmd) stats of this shard, one row per term run:
    # df = its postings, ttf = its tf sum. Computed before the resume
    # check, so a skipped partition still contributes its terms.
    term_rows = np.concatenate([[0], np.nonzero(~term_eq)[0] + 1])
    term_stats = pa.table(
        {
            "term": terms.take(pa.array(term_rows)),
            "df": pa.array(np.diff(np.append(term_rows, n)), pa.int64()),
            "ttf": pa.array(np.add.reduceat(tfs, term_rows), pa.int64()),
        }
    )
    pos_flat = None
    if with_positions:
        pos_flat = col("positions").flatten().to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False
        )
    off_flat = None
    if with_offsets:
        off_flat = col("starts").flatten().to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False
        )

    # deterministic CONTENT fingerprint (md5 over the sorted column
    # buffers): aggregate-sum fingerprints collide when values swap
    # between rows, which would silently resume onto a stale shard
    h = hashlib.md5()
    _hash_string_array(h, terms)
    h.update(np.ascontiguousarray(salts).tobytes())
    h.update(np.ascontiguousarray(doc_ids).tobytes())
    h.update(np.ascontiguousarray(tfs).tobytes())
    h.update(np.ascontiguousarray(dls).tobytes())
    if pos_flat is not None:
        h.update(np.ascontiguousarray(pos_flat).tobytes())
    if off_flat is not None:
        h.update(np.ascontiguousarray(off_flat).tobytes())
    fingerprint = f"{n}-{h.hexdigest()}"
    shard = os.path.join(postings_dir, f"part-{pid:05d}.parquet")
    ckpt = os.path.join(checkpoint_dir, f"part-{pid:05d}.json")
    if os.path.exists(ckpt) and os.path.exists(shard):
        with open(ckpt) as f:
            row = json.load(f)
        if row.get("fingerprint") == fingerprint:
            row["status"] = "skipped_checkpoint"
            return _pack_output(row, term_stats)

    # group boundaries per (term, salt) run
    change = np.nonzero(~term_eq | (salts[1:] != salts[:-1]))[0] + 1
    bounds = np.concatenate([[0], change, [n]])
    pos_offsets = (
        np.concatenate([[0], np.cumsum(tfs)]) if with_positions else None
    )

    out = {k: [] for k in (
        "block_no", "n", "first_doc", "last_doc", "max_tf", "sum_tf",
        "min_dl", "ub_tfs", "ub_dls", "doc_bytes", "tf_bytes", "dl_bytes",
        "pos_bytes", "off_bytes")}
    term_src: list[int] = []  # per-block source row -> term via Arrow take
    n_blocks = 0
    for gi in range(len(bounds) - 1):
        s, e = int(bounds[gi]), int(bounds[gi + 1])
        grp_pos = (
            pos_flat[pos_offsets[s] : pos_offsets[e]] if with_positions else None
        )
        grp_off = (
            off_flat[pos_offsets[s] : pos_offsets[e]] if with_offsets else None
        )
        blocks = encode_posting_blocks(
            doc_ids[s:e], tfs[s:e], grp_pos, dls[s:e], offsets=grp_off
        )
        salt = int(salts[s])
        for b in blocks:
            term_src.append(s)
            # salt shards of one term get disjoint block_no ranges
            out["block_no"].append(salt * 100_000 + b.block_no)
            out["n"].append(b.n)
            out["first_doc"].append(b.first_doc)
            out["last_doc"].append(b.last_doc)
            out["max_tf"].append(b.max_tf)
            out["sum_tf"].append(b.sum_tf)
            out["min_dl"].append(b.min_dl)
            out["ub_tfs"].append(b.ub_tfs)
            out["ub_dls"].append(b.ub_dls)
            out["doc_bytes"].append(b.doc_bytes)
            out["tf_bytes"].append(b.tf_bytes)
            out["dl_bytes"].append(b.dl_bytes)
            out["pos_bytes"].append(b.pos_bytes)
            out["off_bytes"].append(b.off_bytes)
            n_blocks += 1

    shard_table = pa.table(
        {
            "term": terms.take(pa.array(term_src, type=pa.int64())),
            "block_no": pa.array(out["block_no"], pa.int32()),
            "n": pa.array(out["n"], pa.int32()),
            "first_doc": pa.array(out["first_doc"], pa.int64()),
            "last_doc": pa.array(out["last_doc"], pa.int64()),
            "max_tf": pa.array(out["max_tf"], pa.int32()),
            "sum_tf": pa.array(out["sum_tf"], pa.int64()),
            "min_dl": pa.array(out["min_dl"], pa.int32()),
            "ub_tfs": pa.array(out["ub_tfs"], pa.list_(pa.int32())),
            "ub_dls": pa.array(out["ub_dls"], pa.list_(pa.int32())),
            "doc_bytes": pa.array(out["doc_bytes"], pa.binary()),
            "tf_bytes": pa.array(out["tf_bytes"], pa.binary()),
            "dl_bytes": pa.array(out["dl_bytes"], pa.binary()),
            "pos_bytes": pa.array(out["pos_bytes"], pa.binary()),
            "off_bytes": pa.array(out["off_bytes"], pa.binary()),
        }
    )
    os.makedirs(postings_dir, exist_ok=True)
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = shard + f".tmp-{uuid.uuid4().hex[:8]}"
    # cheap page compression: payload columns are already FOR/PFOR-
    # packed, so a fast codec wins on build throughput (snappy — the
    # pyarrow lz4 framing is not readable by Spark's parquet reader)
    pq.write_table(shard_table, tmp, row_group_size=4096, compression="snappy")
    os.replace(tmp, shard)  # atomic publish

    elapsed = time.monotonic() - t0
    bytes_packed = int(
        sum(len(x) for x in out["doc_bytes"])
        + sum(len(x) for x in out["tf_bytes"])
        + sum(len(x) for x in out["dl_bytes"])
        + sum(len(x) for x in out["pos_bytes"] if x is not None)
        + sum(len(x) for x in out["off_bytes"] if x is not None)
    )
    row = {
        "segment": segment,
        "partition_id": pid,
        "min_term": terms[0].as_py(),
        "max_term": terms[n - 1].as_py(),
        "n_terms": int((~term_eq).sum()) + 1,
        "n_postings": int(n),
        "n_blocks": n_blocks,
        "bytes_packed": bytes_packed,
        "elapsed_sec": elapsed,
        "postings_per_sec": n / elapsed if elapsed > 0 else 0.0,
        "status": "ok",
        "fingerprint": fingerprint,
    }
    with open(ckpt + ".tmp", "w") as f:
        json.dump(row, f)
    os.replace(ckpt + ".tmp", ckpt)
    return _pack_output(row, term_stats)


def _pack_output(row: dict, term_stats):
    """The pack kernel's output (PACK_SCHEMA) as one Arrow table: the
    checkpoint row, then the shard's (term, df, ttf) rows. Each kind of
    row holds nulls in the other kind's columns."""
    import pyarrow as pa

    ckpt = pa.Table.from_pylist(
        [row],
        schema=pa.schema(
            [
                ("segment", pa.string()),
                ("partition_id", pa.int32()),
                ("min_term", pa.string()),
                ("max_term", pa.string()),
                ("n_terms", pa.int64()),
                ("n_postings", pa.int64()),
                ("n_blocks", pa.int64()),
                ("bytes_packed", pa.int64()),
                ("elapsed_sec", pa.float64()),
                ("postings_per_sec", pa.float64()),
                ("status", pa.string()),
                ("fingerprint", pa.string()),
            ]
        ),
    )
    terms = term_stats.cast(
        pa.schema([("term", pa.string()), ("df", pa.int64()), ("ttf", pa.int64())])
    )
    return pa.concat_tables([ckpt, terms], promote_options="default")


def _write_terms(term_stats, path: str) -> None:
    """Write the segment's terms table (term, df, ttf) from the pack
    kernels' per-shard rows: a hot term's salt shards land in different
    partitions, so its partial rows are summed here, leaving one row
    per term. Vocabulary-sized (term_index.load_term_index loads the
    same table into the driver); one term-sorted file."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    g = term_stats.group_by("term").aggregate([("df", "sum"), ("ttf", "sum")])
    t = pa.table(
        {"term": g["term"], "df": g["df_sum"], "ttf": g["ttf_sum"]}
    ).sort_by("term")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    tmp = os.path.join(path, f".part-00000.parquet.tmp-{uuid.uuid4().hex[:8]}")
    # the terms are unique, so a dictionary would only add to the term
    # column; df/ttf repeat small values and keep theirs
    pq.write_table(
        t, tmp, compression="snappy", use_dictionary=["df", "ttf"],
        store_schema=False,
    )
    os.replace(tmp, os.path.join(path, "part-00000.parquet"))


def write_segment(
    postings,
    index_dir: str,
    segment: str,
    generation: int,
    *,
    n_docs: int,
    sum_dl: int,
    source: str,
    started: float,
    with_positions: bool = False,
    with_offsets: bool = False,
    n_partitions: int | None = None,
    doc_id_base: int | None = None,
    merged_from: list[str] | None = None,
    mark=None,
    decode=None,
) -> dict:
    """The one segment writer: build, import and merge all end here, so
    a segment's bytes never depend on what produced its postings
    (Lucene's flush and SegmentMerger share one postings writer the
    same way).

    ``postings``: (term, salt, doc_id, tf, dl[, positions][, starts])
    with one row per (term, doc); ``salt`` is the hot-term doc-range
    bucket (0 = unsalted). The norms are the caller's: ``n_docs`` and
    ``sum_dl`` describe them. Writes the packed postings, then the terms
    stats from the (term, df, ttf) rows the pack kernels return with
    their checkpoint rows (the postings are not read back), stats.json
    and the manifest row, and returns the row. A
    merge records ``merged_from`` where a build records its
    ``doc_id_base`` and resumed partition count. ``mark(label)`` is
    called after the pack and after the terms write (build profile).
    ``started`` is the caller's time.monotonic() start, for the row's
    elapsed and rate fields.

    ``decode`` (merge): ``postings`` are then packed block rows (term,
    salt, first_doc, the byte streams) with one row per salt a block's
    postings fall in, and ``decode(batch)`` turns one Arrow batch of
    them into the postings RecordBatch above (None: no posting left).
    The blocks, not their decoded postings, cross the shuffle: the
    writer sorts them by (term, salt, first_doc) and decodes inside the
    pack task, which then packs the same rows it would have been
    shuffled."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    spark = postings.sparkSession
    paths = segment_paths(index_dir, segment)
    n_parts = n_partitions or spark.sparkContext.defaultParallelism

    # THE shuffle: hash-partition on (term, salt). Hash (not range)
    # because resume requires partition contents to be a pure function
    # of the data — repartitionByRange samples boundaries with a
    # run-varying seed, which would invalidate checkpoint fingerprints.
    # The pack kernel term-sorts within each shard, so parquet row-group
    # min/max term stats (zone maps) still prune point lookups to ~one
    # row group per shard; hot terms spread across n_salts partitions.
    # Sort in the JVM (Tungsten sort on the shuffled rows) — a string
    # sort in the kernel costs more than the packing itself; the kernel
    # verifies order and skips its own sort. Blocks sort by first_doc:
    # decoded in that order, a (term, salt)'s postings come out in doc
    # order unless two sources' blocks interleave (a merged segment
    # whose doc range spans another source's); the kernel re-sorts then.
    shuffled = (
        postings.repartition(n_parts, "term", "salt")
        .sortWithinPartitions("term", "salt", "doc_id" if decode is None else "first_doc")
        .withColumn("pid", F.spark_partition_id())
    )

    def pack_iter(batches):
        # Arrow end to end: concat of record batches is buffer reuse,
        # not a pandas object-string copy (whole partition bounded by
        # n_parts sizing)
        import pyarrow as pa

        chunks = list(batches)
        if not chunks:
            return
        pid = int(chunks[0].column("pid")[0].as_py())
        if decode is not None:
            chunks = [b for b in map(decode, chunks) if b is not None]
            if not chunks:
                return
        packed = pack_table(
            pa.Table.from_batches(chunks), pid,
            segment, paths["postings"], paths["checkpoints"], with_positions,
            with_offsets=with_offsets,
        )
        if packed is not None:
            yield from packed.to_batches()

    # small: one checkpoint row per partition (lineage table) plus the
    # vocabulary's term rows
    out = shuffled.mapInArrow(pack_iter, PACK_SCHEMA).toArrow()
    ckpt = out.filter(pc.is_valid(out["segment"]))
    if not ckpt.num_rows:
        # no manifest row for a segment without postings (e.g. a merge
        # whose every doc is deleted): queries could not read it
        raise ValueError(f"segment {segment}: no postings to write")
    if mark:
        mark("shuffle+pack")

    # per-term stats (term, df, ttf), the terms dict .tmd analogue, from
    # the pack kernels: the postings just written are not read again
    _write_terms(
        out.filter(pc.is_valid(out["term"])).select(["term", "df", "ttf"]),
        paths["terms"],
    )
    if mark:
        mark("terms_stats")

    stats = {
        "segment": segment,
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
    }
    elapsed = time.monotonic() - started
    n_postings = pc.sum(ckpt["n_postings"]).as_py() or 0
    row = {
        "segment": segment,
        "generation": generation,
        "status": "live",
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "n_postings": int(n_postings),
        "bytes_packed": int(pc.sum(ckpt["bytes_packed"]).as_py() or 0),
        "n_partitions": ckpt.num_rows,
        "elapsed_sec": elapsed,
        "docs_per_sec": n_docs / elapsed if elapsed else 0.0,
        "postings_per_sec": n_postings / elapsed if elapsed else 0.0,
        "source": source,
    }
    if merged_from is None:
        stats["doc_id_base"] = doc_id_base
        row["resumed_partitions"] = ckpt["status"].to_pylist().count(
            "skipped_checkpoint"
        )
    else:
        stats["merged_from"] = merged_from
        row["merged_from"] = merged_from
    write_stats(index_dir, segment, stats)
    write_manifest_row(index_dir, row)
    return row


def read_stats(index_dir: str, segment: str) -> dict:
    with open(segment_paths(index_dir, segment)["stats"]) as f:
        return json.load(f)


def write_stats(index_dir: str, segment: str, stats: dict) -> None:
    p = segment_paths(index_dir, segment)["stats"]
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        json.dump(stats, f, indent=1)


def list_segments(index_dir: str, live_only: bool = True) -> list[dict]:
    """Read manifest rows (newest generation wins per segment name) —
    Segments.latest semantics (codec/segments.ml:106-115)."""
    mdir = os.path.join(index_dir, "manifest")
    if not os.path.isdir(mdir):
        return []
    rows = []
    for fn in sorted(os.listdir(mdir)):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                rows.append(json.load(f))
    by_name: dict[str, dict] = {}
    for r in rows:
        cur = by_name.get(r["segment"])
        if cur is None or r["generation"] >= cur["generation"]:
            by_name[r["segment"]] = r
    out = list(by_name.values())
    if live_only:
        out = [r for r in out if r.get("status") == "live"]
    return sorted(out, key=lambda r: r["generation"])


def doc_bounds(
    index_dir: str, segments: list[str] | None = None
) -> tuple[int, int] | None:
    """(min_doc_id, max_doc_id) over the norms of ``segments`` (default:
    every live segment) from the parquet footers — driver-side
    metadata, no Spark job. The norms hold a row for every doc a
    segment stores (deleted but unpurged docs included), so the span
    covers every posting block and every doc id still taken. A row
    group without doc_id statistics is read for that one column. None
    when the segments hold no docs."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if segments is None:
        segments = [r["segment"] for r in list_segments(index_dir)]
    lo = hi = None
    for s in segments:
        ndir = segment_paths(index_dir, s)["norms"]
        for fn in glob.glob(os.path.join(ndir, "*.parquet")):
            pf = pq.ParquetFile(fn)
            md = pf.metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                st = next(
                    rg.column(i).statistics
                    for i in range(rg.num_columns)
                    if rg.column(i).path_in_schema == "doc_id"
                )
                if st is not None and st.has_min_max:
                    g_lo, g_hi = st.min, st.max
                else:
                    mm = pc.min_max(
                        pf.read_row_group(g, columns=["doc_id"]).column(0)
                    ).as_py()
                    g_lo, g_hi = mm["min"], mm["max"]
                lo = g_lo if lo is None else min(lo, g_lo)
                hi = g_hi if hi is None else max(hi, g_hi)
    if lo is None:
        return None
    return int(lo), int(hi)


def write_manifest_row(index_dir: str, row: dict) -> None:
    mdir = os.path.join(index_dir, "manifest")
    os.makedirs(mdir, exist_ok=True)
    fn = f"{row['generation']:06d}-{row['segment']}.json"
    with open(os.path.join(mdir, fn) + ".tmp", "w") as f:
        json.dump(row, f, indent=1)
    os.replace(os.path.join(mdir, fn) + ".tmp", os.path.join(mdir, fn))


def next_generation(index_dir: str) -> int:
    segs = list_segments(index_dir, live_only=False)
    return (max((r["generation"] for r in segs), default=0)) + 1
