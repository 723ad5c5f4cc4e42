"""Lucene-segment exporter: an engine index (or any inverted postings
relation) written out as a real Lucene-8.4-layout directory — the
inverse of interop/import_index.py, closing the interop loop in BOTH
directions. The reference only ever READS Lucene indexes
(/root/reference/README.md:5); exporting is beyond-reference surface,
built entirely from the same public wire grammars the read side is
pinned by.

Files written (one segment, the layout open_index.py walks):
  segments_1                  codec/segments.ml grammar (BE old-module)
  {seg}.si                    segment/segment_file_reader.ml grammar
  {seg}.fnm                   segment/field_infos_reader.ml grammar
  {seg}_Lucene84_0.tmd        segment/meta_file_reader.ml grammar
  {seg}_Lucene84_0.tim/.tip   block-tree terms dict + FST index
  {seg}_Lucene84_0.doc/.pos   Lucene84 postings (postings_stream.py)
  {seg}.nvd/.nvm              Lucene80 norms (norms.py), SmallFloat dl

Evidence model (same as the importer's): every byte this module emits
is read back by a reader whose grammar is fixture-verified where the
reference ships fixtures (.si/.fnm record shapes, FST layout, block
pointers, index headers) and round-trip + mutation + independent-
decoder verified where it does not (the postings streams). The
round-trip test (tests/test_export_index.py) proves
engine -> export -> import -> engine reproduces the postings relation
EXACTLY, and that block-max WAND over the exported directory
(interop/wand_search.py) ranks identically to exhaustive scoring.

Block planning (write-side; the read side is terms_enumerator.ml):
keys are term PREFIXES, prefix-closed — every proper prefix (length
>= 1) of every emitted key is itself a key. That guarantee matters:
the reader's seek walk accumulates FST output fragments and treats
the result as a block pointer; if a walk could stop at a NON-final
node, the accumulated bytes would be a partial value (an undecodable
pointer). With prefix-closed keys every stop lands on a final arc, so
the output is always a complete pointer — either a real block (a
wrong-block landing still misses cleanly in the suffix scan) or the
explicit has_terms=False filler this planner writes for pure branch
nodes, which find_block resolves to None (block_pointer.ml:9-41).

Reference crash parity (documented, not worked around): a term that
EQUALS an FST key cannot be sought — the reference indexes past the
end of the string (terms_enumerator.ml:225) and open_index.seek_exact
raises the same NotImplementedError. The planner therefore only emits
a key equal to a term when unavoidable (1-byte terms, whose only
strict prefix is the unaddressable empty string): such terms are
stored as empty suffixes in their first-byte key's base block, fully
enumerable/importable, seekable-by-longer-siblings — only the exact
1-byte seek inherits the reference's crash.

Scale note: a Lucene segment is an inherently single-writer byte
stream, so export assembles driver-side under an explicit postings
cap (the importer is the distributed direction). At cluster scale you
export one directory per engine partition — each a self-contained
one-segment Lucene index — rather than one giant segment; the
reference's segments_N grammar reads ONE segment entry per commit
anyway (codec/segments.ml quirk, fixture-pinned).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

from ..codecs.varint import write_vint
from .norms import encode_doc_lengths, write_norms
from .open_index import open_index
from .postings_stream import write_doc_stream, write_postings_streams
from .fst_writer import write_reversed_fst
from .terms_block import FieldFlags, TermEntry, write_block

__all__ = [
    "ShardedIndex",
    "encode_block_pointer",
    "export_lucene_index",
    "export_lucene_partitions",
    "open_exported_shards",
    "plan_blocks",
    "write_lucene_directory",
]

_SUFFIX = b"Lucene84_0"
CODEC_MAGIC = 0x3FD76C17
_FOOTER = (~CODEC_MAGIC & 0xFFFFFFFF).to_bytes(4, "big") + bytes(12)
# Lucene's BlockTreeTermsWriter default maxItemsInBlock
DEFAULT_BLOCK_TERMS = 48


# ----------------------------------------------------------- helpers


def _vint(v: int) -> bytes:
    out = bytearray()
    write_vint(v, out)
    return bytes(out)


def _string(b: bytes) -> bytes:
    return _vint(len(b)) + b


def _index_header(name: str, version: int, seg_id: bytes) -> bytes:
    """CodecUtil.writeIndexHeader inverse (header.ml:58-110 read side):
    BE magic (the reader's LE read_int quirk byte-swaps it to
    segment_meta.MAGIC_LE_READ — the value check_index_header pins),
    vint-length codec name, BE version, 16-byte id, suffix."""
    return (
        CODEC_MAGIC.to_bytes(4, "big")
        + _string(name.encode())
        + version.to_bytes(4, "big")
        + seg_id
        + bytes([len(_SUFFIX)])
        + _SUFFIX
    )


def _plain_header(name: str, version: int, seg_id: bytes) -> bytes:
    """Same framing with the EMPTY segment suffix (what real Lucene
    writes for .si/.fnm)."""
    return (
        CODEC_MAGIC.to_bytes(4, "big")
        + _string(name.encode())
        + version.to_bytes(4, "big")
        + seg_id
        + b"\x00"
    )


def encode_block_pointer(
    fp: int, has_terms: bool = True, floors: list[tuple[int, int, bool]] | None = None
) -> bytes:
    """Block-pointer FST output bytes (block_pointer.ml grammar —
    the write-side inverse of find_block/all_blocks): vlong
    (fp << 2 | has_terms << 1 | is_floor); when floored, a vint floor
    count, then alternating label bytes and (delta << 1 | has_terms)
    vlongs where each delta is from the PREVIOUS block's fp.
    ``floors``: [(label, fp_delta_from_previous, has_terms), ...]
    starting at the SECOND block."""
    out = bytearray()
    if not floors:
        write_vint((fp << 2) | (2 if has_terms else 0), out)
        return bytes(out)
    write_vint((fp << 2) | (2 if has_terms else 0) | 1, out)
    write_vint(len(floors), out)
    out.append(floors[0][0])
    for i, (_label, delta, ht) in enumerate(floors):
        write_vint((delta << 1) | (1 if ht else 0), out)
        if i + 1 < len(floors):
            out.append(floors[i + 1][0])
    return bytes(out)


# ---------------------------------------------------- block planning


def plan_blocks(
    terms: list[bytes], target: int = DEFAULT_BLOCK_TERMS
) -> list[tuple[bytes, list[tuple[int, int]]]]:
    """Prefix-closed block plan over a SORTED unique term list:
    [(key_prefix, runs)] where each run is a [lo, hi) index range into
    ``terms`` — the key's base block first, then one floor block per
    further run (floor label = that run's first term's byte at
    len(prefix)). An empty runs list is a pure branch node (written as
    a has_terms=False filler pointer). Keys are emitted in sorted
    order; runs cover every term exactly once."""
    if not terms:
        raise ValueError("cannot plan an empty term list")
    for i, t in enumerate(terms):
        if not t:
            raise ValueError("empty term")
        if i and terms[i - 1] >= t:
            raise ValueError(
                f"terms must be sorted strictly ascending at index {i}"
            )

    plans: list[tuple[bytes, list[tuple[int, int]]]] = []

    def split(depth: int, lo: int, hi: int) -> list[tuple[int, int, int]]:
        """(byte, lo, hi) children of terms[lo:hi] by byte at depth."""
        out = []
        i = lo
        while i < hi:
            b = terms[i][depth]
            j = i
            while j < hi and terms[j][depth] == b:
                j += 1
            out.append((b, i, j))
            i = j
        return out

    def plan(prefix: bytes, lo: int, hi: int) -> None:
        depth = len(prefix)
        n = hi - lo
        if n <= target:
            plans.append((prefix, [(lo, hi)]))
            return
        # peel the term equal to the prefix itself (unique terms ->
        # at most one; sorted -> it is first). It can only live in
        # THIS key's base block, as an empty suffix.
        eq = lo
        while eq < hi and len(terms[eq]) == depth:
            eq += 1
        runs: list[tuple[int, int]] = []
        deep: list[tuple[bytes, int, int]] = []
        cur_lo, cur_n = (lo, eq - lo) if eq > lo else (None, 0)
        for b, i, j in split(depth, eq, hi):
            # a big child becomes its own deeper key subtree — UNLESS
            # its shortest term IS the child prefix (len == depth+1):
            # a key equal to a term makes that term unseekable (the
            # reference's crash, terms_enumerator.ml:225), and common
            # words are prefixes of their derivations ("the"/"then"),
            # so such children stay as one oversize linear-scan run
            # instead — seekability beats block-size discipline
            if j - i > target and len(terms[i]) > depth + 1:
                if cur_lo is not None:
                    runs.append((cur_lo, i))
                    cur_lo, cur_n = None, 0
                deep.append((prefix + bytes([b]), i, j))
                continue
            if cur_lo is None:
                cur_lo, cur_n = i, 0
            elif cur_n + (j - i) > target:
                runs.append((cur_lo, i))
                cur_lo, cur_n = i, 0
            cur_n += j - i
        if cur_lo is not None:
            runs.append((cur_lo, hi))
        # always emit the key: with runs when any terms stay at this
        # level, else as the prefix-closure filler (see module doc)
        plans.append((prefix, runs))
        for cp, i, j in deep:
            plan(cp, i, j)

    for b, i, j in split(0, 0, len(terms)):
        plan(bytes([b]), i, j)
    plans.sort(key=lambda kv: kv[0])
    return plans


# ----------------------------------------------------- file builders


def _write_si(
    seg_id: bytes, max_doc: int, files: list[str], source: str
) -> bytes:
    """segment_file_reader.ml grammar inverse: header, version triple
    (3x 4-byte — the reader's read_int is the LE quirk; written BE as
    real Lucene does), optional min_version, BE doc_count (read_uint),
    compound byte, diagnostics / files / attributes / sort_fields."""
    buf = bytearray(_plain_header("Lucene86SegmentInfo", 0, seg_id))
    for part in (8, 6, 2):
        buf += part.to_bytes(4, "big")
    buf += b"\x00"  # no min_version
    buf += max_doc.to_bytes(4, "big")  # read_uint: BE
    buf += b"\x00"  # not a compound file
    diags = [(b"source", source.encode()), (b"os", b"generic")]
    buf += _vint(len(diags))
    for k, v in diags:
        buf += _string(k) + _string(v)
    buf += _vint(len(files))
    for name in files:
        buf += _string(name.encode())
    buf += _vint(0)  # attributes
    buf += _vint(0)  # sort fields (no index sort)
    buf += _FOOTER
    return bytes(buf)


def _write_fnm(
    seg_id: bytes, field: str, field_number: int, index_options_code: int
) -> bytes:
    """field_infos_reader.ml grammar inverse: one indexed text field,
    norms kept, no doc values / points / term vectors."""
    buf = bytearray(_plain_header("Lucene60FieldInfos", 2, seg_id))
    buf += _vint(1)
    buf += _string(field.encode())
    buf += _vint(field_number)
    buf += b"\x00"  # flag byte: norms kept, no vectors/payloads
    buf += bytes([index_options_code])
    buf += b"\x00"  # doc_values NONE
    buf += b"\xff" * 8  # doc_values_gen -1
    buf += _vint(0)  # attributes
    buf += _vint(0)  # point dims
    buf += _FOOTER
    return bytes(buf)


def _write_segments_file(seg_name: str, seg_id: bytes) -> bytes:
    """codec/segments.ml grammar inverse (the OLDER big-endian
    data-input module): one committed segment, no deletes, no
    doc-values updates."""

    def be(v: int, width: int) -> bytes:
        return (v & (1 << (8 * width)) - 1).to_bytes(width, "big")

    buf = bytearray()
    buf += CODEC_MAGIC.to_bytes(4, "big")
    buf += _string(b"segments")
    buf += be(9, 4)  # format version
    buf += hashlib.md5(b"commit:" + seg_id).digest()  # commit object id
    buf += b"\x00"  # empty suffix
    buf += _vint(8) + _vint(6) + _vint(2)  # lucene version
    buf += _vint(8)  # index created major
    buf += be(1, 8)  # commit version
    buf += _vint(1)  # name_counter
    buf += be(1, 4)  # seg_count
    buf += _vint(8) + _vint(6) + _vint(2)  # min segment lucene version
    buf += _string(seg_name.encode())
    buf += seg_id
    buf += _string(b"Lucene87")
    buf += be(-1, 8)  # del_gen: no deletes
    buf += be(0, 4)  # del_count
    buf += be(-1, 8)  # field_infos_gen
    buf += be(-1, 8)  # doc_values_gen
    buf += be(0, 4)  # soft_del_count
    buf += b"\x00"  # no sci_id
    buf += _vint(0)  # field_infos_files
    buf += be(0, 4)  # doc_values_updates
    buf += _vint(0)  # user data
    buf += _FOOTER
    return bytes(buf)


def _fst_meta_bytes(start_node: int, num_bytes: int) -> bytes:
    """meta_file_reader.ml trailing FST metadata: BE magic (read_uint),
    "FST" v6, present-but-empty root output, Byte1 inputs, vlong start
    node and byte count."""
    return (
        CODEC_MAGIC.to_bytes(4, "big")
        + _string(b"FST")
        + (6).to_bytes(4, "big")
        + b"\x01"
        + _vint(0)
        + b"\x00"
        + _vint(start_node)
        + _vint(num_bytes)
    )


# --------------------------------------------------------- top level


def write_lucene_directory(
    out_dir: str,
    field: str,
    postings: list[tuple[bytes, np.ndarray, object]],
    *,
    with_positions: bool,
    max_doc: int | None = None,
    seg_name: str = "_0",
    seg_id: bytes | None = None,
    field_number: int = 0,
    target_block_terms: int = DEFAULT_BLOCK_TERMS,
    source: str = "ocaml_lucene_spark.export",
) -> dict:
    """Write one complete Lucene-layout segment directory over an
    inverted relation.

    ``postings``: sorted by term; per entry ``(term_bytes, doc_ids,
    payload)`` where doc_ids are strictly-ascending int64 ordinals in
    [0, max_doc) and payload is the tf array (``with_positions=False``)
    or the per-doc ascending position-array list (True; tf derives as
    the position counts). Doc ids are SEGMENT ordinals — remap sparse
    engine ids densely before calling (export_lucene_index does).

    Norms: per-doc field length = sum(tf), SmallFloat-encoded
    (norms.encode_doc_lengths) into {seg}.nvd/.nvm AND fed to the
    postings writer so skip entries carry real competitive impacts —
    which is what makes wand_search.bm25_topk over the result prune.
    Docs in [0, max_doc) with no postings store norm 0 (no field).

    Returns a summary dict (n_terms, n_docs, n_postings, sum_ttf,
    files). See the module docstring for the 1-byte-term seek caveat.
    """
    terms = [t for t, _d, _p in postings]
    plans = plan_blocks(terms, target=target_block_terms)

    # per-doc field lengths -> norm bytes (dense over max_doc)
    n_postings = 0
    doc_top = -1
    for t, docs, payload in postings:
        docs = np.asarray(docs)
        if docs.size == 0:
            raise ValueError(f"term {t!r} has no postings")
        n_postings += int(docs.size)
        doc_top = max(doc_top, int(docs[-1]))
    if max_doc is None:
        max_doc = doc_top + 1
    if doc_top >= max_doc:
        raise ValueError(f"doc id {doc_top} >= max_doc {max_doc}")
    dl = np.zeros(max_doc, dtype=np.int64)
    for t, docs, payload in postings:
        tfs = (
            np.array([len(p) for p in payload], dtype=np.int64)
            if with_positions
            else np.asarray(payload, dtype=np.int64)
        )
        dl[np.asarray(docs, dtype=np.int64)] += tfs
    # int_to_byte4(0) == 0: postings-less docs store norm 0 (no field)
    norm_bytes = encode_doc_lengths(dl)

    if seg_id is None:
        h = hashlib.md5(b"olspark-export\x00" + field.encode())
        h.update(len(terms).to_bytes(8, "big") + max_doc.to_bytes(8, "big"))
        for t in terms:
            h.update(t)
        seg_id = h.digest()

    per_term_norms = [
        norm_bytes[np.asarray(d, dtype=np.int64)] for _t, d, _p in postings
    ]
    if with_positions:
        doc_bytes, pos_bytes, metas = write_postings_streams(
            [(d, p) for _t, d, p in postings], seg_id, norms=per_term_norms
        )
        flags = FieldFlags(has_freqs=True, has_positions=True)
        index_options_code = 3  # DOCS_AND_FREQS_AND_POSITIONS
    else:
        doc_bytes, metas = write_doc_stream(
            [(d, tf) for _t, d, tf in postings], seg_id, norms=per_term_norms
        )
        pos_bytes = None
        # NB: FieldFlags defaults has_positions=True — spell it out
        flags = FieldFlags(has_freqs=True, has_positions=False)
        index_options_code = 2  # DOCS_AND_FREQS

    stats = []  # aligned (df, ttf)
    for t, docs, payload in postings:
        df = int(np.asarray(docs).size)
        ttf = (
            sum(len(p) for p in payload)
            if with_positions
            else int(np.asarray(payload, dtype=np.int64).sum())
        )
        stats.append((df, ttf))

    def entry(idx: int, prefix: bytes) -> TermEntry:
        m, (df, ttf) = metas[idx], stats[idx]
        # the reader consumes a last_pos_block_offset vlong whenever
        # ttf > 128 EVEN for positions-less fields (terms_enumerator.ml
        # :126-171 parity) — a freqs-only export writes 0 there
        lpbo = m.get("last_pos_block_offset")
        if lpbo is None and not with_positions:
            lpbo = 0
        return TermEntry(
            terms[idx][len(prefix):],
            doc_freq=df,
            total_term_freq=ttf,
            doc_start_fp=m["doc_start_fp"],
            singleton_doc_id=m["singleton_doc_id"],
            skip_offset=m["skip_offset"],
            pos_start_fp=m.get("pos_start_fp", 0),
            last_pos_block_offset=lpbo,
        )

    # .tim: header + every planned block; pointers from recorded fps
    tim = bytearray(_index_header("BlockTreeTermsDict", 6, seg_id))
    items: list[tuple[bytes, bytes]] = []
    for prefix, runs in plans:
        if not runs:  # pure branch node: prefix-closure filler
            items.append((prefix, encode_block_pointer(0, has_terms=False)))
            continue
        fps = []
        for k, (lo, hi) in enumerate(runs):
            fps.append(len(tim))
            tim += write_block(
                [entry(i, prefix) for i in range(lo, hi)],
                flags=flags,
                last_in_floor=(len(runs) > 1 and k == len(runs) - 1),
            )
        floors = [
            (terms[runs[k][0]][len(prefix)], fps[k] - fps[k - 1], True)
            for k in range(1, len(runs))
        ]
        items.append(
            (prefix, encode_block_pointer(fps[0], floors=floors or None))
        )

    fst_data, start_node, _empty = write_reversed_fst(
        items, output_type="bytes"
    )
    tip_header = _index_header("BlockTreeTermsIndex", 6, seg_id)
    tip = tip_header + fst_data
    index_start_fp = len(tip_header)

    n_terms = len(terms)
    sum_df = sum(df for df, _t in stats)
    sum_ttf = sum(ttf for _d, ttf in stats)
    doc_count = int((dl > 0).sum())
    tmd = bytearray(_index_header("BlockTreeTermsMeta", 6, seg_id))
    tmd += _index_header("Lucene84PostingsWriterTerms", 0, seg_id)
    tmd += _vint(128)
    tmd += _vint(1)  # one field
    tmd += _vint(field_number)
    tmd += _vint(n_terms)
    tmd += _string(items[0][1])  # root code (unused by seek; FST wins)
    tmd += _vint(sum_ttf)
    tmd += _vint(sum_df)
    tmd += _vint(doc_count)
    tmd += _string(terms[0])
    tmd += _string(terms[-1])
    tmd += _vint(index_start_fp)
    tmd += _fst_meta_bytes(start_node, len(fst_data))
    tmd += len(tip).to_bytes(8, "little")
    tmd += len(tim).to_bytes(8, "little")

    nvd, nvm = write_norms([(field_number, norm_bytes)], seg_id, max_doc)

    stem = f"{seg_name}_{_SUFFIX.decode()}"
    blobs: list[tuple[str, bytes]] = [
        (f"{stem}.tmd", bytes(tmd)),
        (f"{stem}.tim", bytes(tim)),
        (f"{stem}.tip", tip),
        (f"{stem}.doc", doc_bytes),
        (f"{seg_name}.nvd", nvd),
        (f"{seg_name}.nvm", nvm),
    ]
    if pos_bytes is not None:
        blobs.append((f"{stem}.pos", pos_bytes))
    file_names = [name for name, _b in blobs] + [
        f"{seg_name}.si",
        f"{seg_name}.fnm",
    ]
    blobs.append(
        (f"{seg_name}.si", _write_si(seg_id, max_doc, sorted(file_names), source))
    )
    blobs.append(
        (f"{seg_name}.fnm", _write_fnm(seg_id, field, field_number, index_options_code))
    )
    blobs.append(("segments_1", _write_segments_file(seg_name, seg_id)))

    os.makedirs(out_dir, exist_ok=True)
    for name, blob in blobs:
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(blob)

    return {
        "out_dir": out_dir,
        "seg_name": seg_name,
        "field": field,
        "n_terms": n_terms,
        "n_docs": max_doc,
        "doc_count": doc_count,
        "n_postings": n_postings,
        "sum_doc_freq": sum_df,
        "sum_total_term_freq": sum_ttf,
        "with_positions": with_positions,
        "n_blocks": sum(len(r) for _p, r in plans),
        "n_keys": len(plans),
        "files": [name for name, _b in blobs],
    }


def export_lucene_index(
    index_dir: str,
    out_dir: str,
    field: str = "body",
    max_postings: int = 50_000_000,
) -> dict:
    """Export an ENGINE index (docs/SEGMENT_FORMAT.md parquet
    segments) as a one-segment Lucene-layout directory at ``out_dir``.

    Driver-side by design (a Lucene segment is one serial byte
    stream): reads every live engine segment's packed postings with
    pyarrow, decodes the blocks with the engine's own codecs, drops
    deleted docs, densely remaps the engine's global doc ids to
    segment ordinals, and writes the directory. Bounded by
    ``max_postings`` (raises above it — at cluster scale export one
    directory per partition instead; module docstring).

    Offsets: the engine stores token START offsets only; Lucene's
    .pay grammar needs (start, end) pairs, so offsets are NOT exported
    (positions are). The result dict notes it.

    Returns the write_lucene_directory summary plus ``doc_map`` (a
    numpy int64 array: Lucene ordinal -> engine global doc id), also
    saved as ``doc_map.npy`` beside the Lucene files (the extra file
    is invisible to open_index, which loads only the names the
    manifest implies).
    """
    import pyarrow.parquet as pq

    from ..codecs.blocks import decode_postings
    from ..index import segments as seg_mod
    from ..index.deletes import deleted_ids

    segs = seg_mod.list_segments(index_dir, live_only=True)
    if not segs:
        raise ValueError(f"no live segments in {index_dir}")
    # the parquet schema always carries pos_bytes (null when the build
    # had no positions) — stats.json is the truth, as in index/merge.py
    src_stats = [seg_mod.read_stats(index_dir, r["segment"]) for r in segs]
    with_positions = {bool(st.get("with_positions")) for st in src_stats}
    if len(with_positions) > 1:
        raise ValueError(
            "segments disagree on positions — merge the index first"
        )
    has_pos = with_positions == {True}
    offsets_seen = any(bool(st.get("with_offsets")) for st in src_stats)
    deleted = deleted_ids(index_dir)
    dropped = deleted if len(deleted) else None
    cols = ["term", "doc_bytes", "tf_bytes"] + (["pos_bytes"] if has_pos else [])

    code: dict[str, int] = {}  # term -> first-seen code
    codes_l, docs_l, tfs_l, poss_l = [], [], [], []
    n_postings = 0
    for row in segs:
        path = seg_mod.segment_paths(index_dir, row["segment"])["postings"]
        for batch in pq.read_table(path, columns=cols).to_batches():
            d = decode_postings(batch, dropped)
            if not d["doc_id"].size:
                continue
            n_postings += int(d["doc_id"].size)
            if n_postings > max_postings:
                raise ValueError(
                    f"index exceeds max_postings={max_postings}; "
                    "export per-partition directories instead "
                    "(see export_index module docstring)"
                )
            row_code = np.array(
                [code.setdefault(t, len(code)) for t in batch.column("term").to_pylist()],
                dtype=np.int64,
            )
            codes_l.append(row_code[d["row"]])
            docs_l.append(d["doc_id"])
            tfs_l.append(d["tf"])
            if has_pos:
                poss_l += np.split(d["positions"], np.cumsum(d["tf"])[:-1])

    # dense ordinal remap over every posting-bearing global doc id
    docs = np.concatenate(docs_l)
    all_ids = np.unique(docs)
    names = sorted(code)
    rank = np.empty(len(names), dtype=np.int64)
    rank[[code[t] for t in names]] = np.arange(len(names))
    term_rank = rank[np.concatenate(codes_l)]
    order = np.lexsort((docs, term_rank))
    bounds = np.searchsorted(term_rank[order], np.arange(len(names) + 1))
    tfs = np.concatenate(tfs_l)
    postings = []
    for i, term in enumerate(names):
        idx = order[bounds[i] : bounds[i + 1]]
        if not idx.size:  # every posting of the term was deleted
            continue
        term_docs = docs[idx]
        if term_docs.size > 1 and np.any(np.diff(term_docs) <= 0):
            raise ValueError(f"term {term!r}: duplicate doc ids across blocks")
        ords = np.searchsorted(all_ids, term_docs).astype(np.int64)
        payload = [poss_l[k] for k in idx.tolist()] if has_pos else tfs[idx]
        postings.append((term.encode("utf-8"), ords, payload))

    result = write_lucene_directory(
        out_dir,
        field,
        postings,
        with_positions=has_pos,
        max_doc=int(all_ids.size),
        source=f"ocaml_lucene_spark.export:{os.path.basename(index_dir)}",
    )
    np.save(os.path.join(out_dir, "doc_map.npy"), all_ids)
    result["doc_map"] = all_ids
    result["doc_map_path"] = os.path.join(out_dir, "doc_map.npy")
    result["offsets_dropped"] = bool(offsets_seen)
    return result


def export_lucene_partitions(
    spark,
    index_dir: str,
    out_base: str,
    field: str = "body",
    n_directories: int = 8,
) -> list[dict]:
    """DISTRIBUTED export: the engine index as ``n_directories``
    self-contained one-segment Lucene directories under
    ``out_base/part-NNNNN`` — the documented cluster-scale path
    (a Lucene segment is one serial byte stream, so scale comes from
    writing many of them in parallel, not one giant one).

    Sharding is by DOC RANGE with deterministic equal-width boundaries
    over the engine's doc-id span (the salting formula — NEVER
    repartitionByRange, whose boundaries are not deterministic across
    runs): every doc's postings land in exactly one directory, so each
    directory's per-doc dl (and hence its norms) is exact, and the
    union of all directories is the whole index. One posting-volume
    shuffle; each executor task assembles one directory in memory
    (size it via n_directories) and writes to shared storage, exactly
    the importer's filesystem assumption in reverse.

    Like Lucene/ES shards, each directory carries LOCAL stats —
    ShardedIndex/open_exported_shards is the coordinator that queries
    them with exact GLOBAL stats; single-shard queries are exact
    as-is. Engine offsets are not exported (the single-directory
    path's documented start-only boundary).

    Returns one summary dict per directory (driver-side, tiny).
    """
    import pandas as pd
    import pyarrow as pa

    from ..codecs.blocks import decode_postings, occurrence_lists
    from ..index import segments as seg_mod
    from ..index.deletes import deleted_ids

    segs = seg_mod.list_segments(index_dir, live_only=True)
    if not segs:
        raise ValueError(f"no live segments in {index_dir}")
    src_stats = [seg_mod.read_stats(index_dir, s["segment"]) for s in segs]
    with_positions = all(bool(st.get("with_positions")) for st in src_stats)
    deleted = deleted_ids(index_dir)
    bc_deleted = spark.sparkContext.broadcast(deleted if len(deleted) else None)

    posting_paths = [
        seg_mod.segment_paths(index_dir, s["segment"])["postings"] for s in segs
    ]
    # the doc span from the norms footers: driver-side, no Spark job
    lo, hi = seg_mod.doc_bounds(index_dir)
    span = hi - lo + 1
    n_dirs = max(1, min(n_directories, span))

    cols = ["term", "doc_bytes", "tf_bytes"] + (["pos_bytes"] if with_positions else [])
    flat_schema = "bucket int, term string, doc_id long, tf long" + (
        ", positions array<long>" if with_positions else ""
    )

    def unpack(batches):
        dropped = bc_deleted.value
        for rb in batches:
            d = decode_postings(rb, dropped)
            docs = d["doc_id"]
            if not docs.size:
                continue
            out = {
                "bucket": pa.array(((docs - lo) * n_dirs // span).astype(np.int32)),
                "term": rb.column("term").take(pa.array(d["row"])),
                "doc_id": pa.array(docs),
                "tf": pa.array(d["tf"]),
            }
            if with_positions:
                out["positions"] = occurrence_lists(d["positions"], d["tf"])
            yield pa.RecordBatch.from_pydict(out)

    flat = (
        spark.read.parquet(*posting_paths).select(*cols).mapInArrow(unpack, flat_schema)
    )

    out_schema = (
        "bucket int, out_dir string, n_terms long, n_docs long, "
        "n_postings long, n_keys long, n_blocks long"
    )

    def write_dir(pdf):
        bucket = int(pdf["bucket"].iloc[0])
        per_term: dict[str, list] = {}
        for row in pdf.itertuples(index=False):
            per_term.setdefault(row.term, []).append(row)
        postings = []
        for term in sorted(per_term):
            rows = sorted(per_term[term], key=lambda r: r.doc_id)
            docs = np.array([r.doc_id for r in rows], dtype=np.int64)
            if with_positions:
                payload = [np.asarray(r.positions, dtype=np.int64) for r in rows]
            else:
                payload = np.array([r.tf for r in rows], dtype=np.int64)
            postings.append((term.encode("utf-8"), docs, payload))
        all_ids = np.unique(pdf["doc_id"].to_numpy(dtype=np.int64))
        remap = {int(g): o for o, g in enumerate(all_ids.tolist())}
        postings = [
            (
                t,
                np.array([remap[int(d)] for d in docs], dtype=np.int64),
                payload,
            )
            for t, docs, payload in postings
        ]
        out_dir = os.path.join(out_base, f"part-{bucket:05d}")
        res = write_lucene_directory(
            out_dir,
            field,
            postings,
            with_positions=with_positions,
            max_doc=int(all_ids.size),
            source=f"ocaml_lucene_spark.export:{os.path.basename(index_dir)}:part{bucket}",
        )
        np.save(os.path.join(out_dir, "doc_map.npy"), all_ids)
        return pd.DataFrame(
            [
                {
                    "bucket": bucket,
                    "out_dir": out_dir,
                    "n_terms": res["n_terms"],
                    "n_docs": res["n_docs"],
                    "n_postings": res["n_postings"],
                    "n_keys": res["n_keys"],
                    "n_blocks": res["n_blocks"],
                }
            ]
        )

    os.makedirs(out_base, exist_ok=True)
    # ONE posting-volume shuffle: groupBy+applyInPandas hashes by
    # bucket itself — a repartition first would shuffle twice
    rows = (
        flat.groupBy("bucket").applyInPandas(write_dir, out_schema).collect()
    )
    return sorted((r.asDict() for r in rows), key=lambda r: r["bucket"])


class ShardedIndex:
    """Every part-NNNNN directory of a partitioned export opened as
    ONE logical index: ``segments`` is the shard segments' ordered
    union, which is exactly the interface wand_search aggregates
    global stats over and rebases doc ids through (cumulative .si
    max_doc) — so cross-shard BM25 here is EXACT with GLOBAL
    statistics, the coordinator role ES plays over its shards.

    Because shards are ascending doc-id ranges and each shard's
    doc_map is ascending, the concatenated doc_map is globally sorted:
    a rebased hit id maps straight back to its engine doc id. Query
    terms must be >= 2 bytes (the reference reader's 1-byte seek
    crash, terms_enumerator.ml:225)."""

    def __init__(self, shard_dirs: list[str]):
        if not shard_dirs:
            raise ValueError("no shard directories")
        self.shard_dirs = list(shard_dirs)
        self.indexes = [open_index(d) for d in self.shard_dirs]
        self.segments = [s for ix in self.indexes for s in ix.segments]
        maps = []
        for d in self.shard_dirs:
            p = os.path.join(d, "doc_map.npy")
            maps.append(np.load(p) if os.path.exists(p) else None)
        self.doc_map = (
            np.concatenate(maps) if all(m is not None for m in maps) else None
        )

    def bm25_topk(
        self,
        field: str,
        terms: list[str],
        k: int = 10,
        mode: str = "or",
        engine_ids: bool = True,
    ) -> list[tuple[int, float]]:
        """Exact global-stats block-max BM25 over all shards;
        [(doc_id, score)] with engine doc ids when every shard carries
        a doc_map (else the rebased ordinal space)."""
        from .wand_search import bm25_topk as _topk

        hits, _metrics = _topk(self, field, terms, k=k, mode=mode)
        if engine_ids and self.doc_map is not None:
            hits = [(int(self.doc_map[d]), s) for d, s in hits]
        return hits


def open_exported_shards(out_base: str) -> ShardedIndex:
    """Open an export_lucene_partitions output (every part-* child
    directory, in bucket order) as one ShardedIndex."""
    dirs = sorted(
        os.path.join(out_base, name)
        for name in os.listdir(out_base)
        if name.startswith("part-")
        and os.path.isdir(os.path.join(out_base, name))
    )
    return ShardedIndex(dirs)


def main(argv: list[str] | None = None) -> int:
    """CLI: export an engine index as a Lucene-layout directory.

        python -m ocaml_lucene_spark.interop.export_index \
            ENGINE_INDEX_DIR LUCENE_OUT_DIR [FIELD]
    """
    import sys

    args = sys.argv[1:] if argv is None else argv
    if len(args) not in (2, 3):
        print(
            "usage: python -m ocaml_lucene_spark.interop.export_index "
            "ENGINE_INDEX_DIR LUCENE_OUT_DIR [FIELD]",
            file=sys.stderr,
        )
        return 2
    field = args[2] if len(args) == 3 else "body"
    r = export_lucene_index(args[0], args[1], field=field)
    print(
        f"exported segment {r['seg_name']}: {r['n_terms']} terms, "
        f"{r['n_docs']} docs, {r['n_postings']} postings, "
        f"{r['n_keys']} FST keys / {r['n_blocks']} blocks"
        + (" (positions)" if r["with_positions"] else "")
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
