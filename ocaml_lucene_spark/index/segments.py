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
import pandas as pd

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
    segment: str,
    postings_dir: str,
    checkpoint_dir: str,
    with_positions: bool,
    with_offsets: bool = False,
    vocab=None,
):
    """Arrow-native pack kernel (runs under mapInArrow): one shuffle
    partition of (term, salt, doc_id, tf, dl[, positions], pid) rows ->
    packed block rows written as a term-sorted parquet shard + one
    checkpoint/metrics RecordBatch returned (None for an empty input).

    vocab: optional pyarrow StringArray mapping tid -> term. When given
    (int-term-id build path), the input carries a ``tid`` int column
    instead of ``term``; tids are ranks in the SORTED vocabulary, so
    tid order == term order, and the kernel reconstructs the string
    column with one Arrow take — the written shard (and the content
    fingerprint, which hashes the reconstructed strings) is
    byte-identical to a string-shuffle build of the same rows (tested).

    Arrow end to end: term strings stay in Arrow buffers (never
    materialized as Python str objects — the pandas object-string heap
    was the measured cross-kernel GC/memory-bandwidth contention when 8
    pack kernels share one local JVM host), numeric columns are
    zero-copy numpy views, and positions flatten from the ListArray
    value buffer.

    Resumable: if this partition's shard + checkpoint already exist
    with the same content fingerprint, the write is skipped and the
    existing checkpoint row is returned (build DAG restart without
    recompute).
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

    pid = int(col("pid")[0].as_py())
    use_tids = vocab is not None and "tid" in table.schema.names
    term_key = "tid" if use_tids else "term"
    doc_ids = col("doc_id").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    salts = col("salt").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)

    def term_meta():
        """(terms StringArray, term_eq bool[n-1], terms_ok) for the
        current table order; int-id inputs compare tids (radix-cheap)
        and reconstruct the string column with one Arrow take."""
        if use_tids:
            tids = col("tid").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            t = vocab.take(pa.array(tids, type=pa.int64()))
            eq = tids[1:] == tids[:-1] if n > 1 else np.zeros(0, dtype=bool)
            ok = bool((np.diff(tids) >= 0).all()) if n > 1 else True
            return t, eq, ok
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
                (term_key, "ascending"), ("salt", "ascending"), ("doc_id", "ascending"),
            ],
        )
        table = table.take(idx).combine_chunks()
        doc_ids = col("doc_id").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        salts = col("salt").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        terms, term_eq, _ = term_meta()
    tfs = col("tf").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    dls = col("dl").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
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
            return _checkpoint_batch(row)

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
    return _checkpoint_batch(row)


def _checkpoint_batch(row: dict):
    """One checkpoint row as a RecordBatch matching CHECKPOINT_SCHEMA."""
    import pyarrow as pa

    schema = pa.schema(
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
    )
    return pa.RecordBatch.from_pylist([row], schema=schema)


def pack_partition(
    pdf: pd.DataFrame,
    segment: str,
    postings_dir: str,
    checkpoint_dir: str,
    with_positions: bool,
    with_offsets: bool = False,
) -> pd.DataFrame:
    """pandas wrapper over ``pack_table`` (mapInPandas callers, e.g.
    merge). Fingerprints are identical to the Arrow path."""
    import pyarrow as pa

    if len(pdf) == 0:
        return pd.DataFrame(
            columns=[c.split(" ")[0] for c in CHECKPOINT_SCHEMA.split(", ")]
        )
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    rb = pack_table(
        table, segment, postings_dir, checkpoint_dir, with_positions,
        with_offsets=with_offsets,
    )
    return rb.to_pandas()


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
