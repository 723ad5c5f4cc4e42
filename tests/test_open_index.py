"""End-to-end ``interop.open_index`` over a synthesized multi-file
Lucene directory — the public composition the reference's only app
performs (app/lucene_tools.ml:7-27): segments_N -> .si -> .fnm ->
.tmd/.tim/.tip terms reader -> seek_exact to a Block_term_state.

Evidence model (same as test_terms_block.py): the .si/.fnm files are
the reference's GOLDEN fixtures (data/segment.si, data/field_infos.fnm
— fixture-expected records pinned in test_reference_fixtures.py); the
files the reference ships no fixture for (segments_N, .tmd, .tim,
.tip) are synthesized by grammar-inverse writers whose read-side is
fixture-verified elsewhere (manifest grammar: codec/segments.ml;
index-header grammar: segment/header.ml:58-110; .tmd grammar:
segment/meta_file_reader.ml; FST layout: the fixture-walked
interop/fst_reader.py via the round-trip-tested fst_writer).

No Spark involved; pure byte-level tests.
"""

from __future__ import annotations

import io
import os
import sys
from pathlib import Path

import numpy as np
import pytest

from ocaml_lucene_spark.interop.fst_writer import write_reversed_fst
from ocaml_lucene_spark.interop.open_index import main, open_index
from ocaml_lucene_spark.interop.terms_block import (
    FieldFlags,
    TermEntry,
    expected_state,
    write_block,
)
from test_reference_fixtures import _synth_segments_bytes
from test_terms_block import _pointer

DATA = Path("/root/reference/data")


def golden_bytes(name: str) -> bytes:
    """A golden reference fixture's bytes, read on first use; skips the
    calling test when the reference data is not present (as
    test_reference_fixtures.py does) — never stands in other bytes."""
    path = DATA / name
    if not path.exists():
        pytest.skip(f"reference fixture {name} not present")
    return path.read_bytes()


# the golden .si's 16-byte object id — the whole directory must agree
# on it (segments_N entry, .tmd/.tim/.tip index headers)
SEG_ID = bytes.fromhex("3d14dd1afc34bf8dc8bc3c5c972b3239")
SUFFIX = b"Lucene84_0"
CODEC_MAGIC = 0x3FD76C17

# field 3 in the golden .fnm is "title", DOCS_AND_FREQS -> freqs only
TITLE_FLAGS = FieldFlags(has_freqs=True, has_positions=False)


def _vint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _string(b: bytes) -> bytes:
    return _vint(len(b)) + b


def _index_header(name: str, version: int) -> bytes:
    """header.ml:58-110 write-side inverse: BE magic int (as real
    Lucene writes it; the reader's LE read_int quirk byte-swaps it —
    segment_meta.MAGIC_LE_READ), vint-length codec name, BE version
    (read_uint), 16-byte object id, byte-length-prefixed suffix."""
    return (
        CODEC_MAGIC.to_bytes(4, "big")
        + _string(name.encode())
        + version.to_bytes(4, "big")
        + SEG_ID
        + bytes([len(SUFFIX)])
        + SUFFIX
    )


def _fst_meta(start_node: int, num_bytes: int) -> bytes:
    """meta_file_reader.ml FST metadata: BE magic (read_uint), "FST"
    v6, present-but-empty root output, Byte1 inputs, vlong start node
    and byte count."""
    return (
        CODEC_MAGIC.to_bytes(4, "big")
        + _string(b"FST")
        + (6).to_bytes(4, "big")
        + b"\x01" + _vint(0)  # empty_output = b"" (present, length 0)
        + b"\x00"             # input type Byte1
        + _vint(start_node)
        + _vint(num_bytes)
    )


# terms for field "title": ap{ple,ply} | ap{q,qx} (floor split at 'q')
# and ba{t,ts} — the same three-block shape the composed seek test
# uses, under freqs-only decode flags
AP1 = [
    TermEntry(b"ple", 3, 7, doc_start_fp=0),
    TermEntry(b"ply", 1, 1, doc_start_fp=17, singleton_doc_id=4),
]
AP2 = [
    TermEntry(b"q", 2, 2, doc_start_fp=40),
    TermEntry(b"qx", 5, 9, doc_start_fp=51),
]
BA = [
    TermEntry(b"t", 6, 11, doc_start_fp=70),
    TermEntry(b"ts", 2, 3, doc_start_fp=90),
]
ALL_TERMS = [
    (b"apple", AP1, 0),
    (b"apply", AP1, 1),
    (b"apq", AP2, 0),
    (b"apqx", AP2, 1),
    (b"bat", BA, 0),
    (b"bats", BA, 1),
]


def _synth_dir(
    tmp_path,
    seg_id_in_manifest: bytes = SEG_ID,
    blocks: tuple[list, list, list] | None = None,
    doc_bytes: bytes | None = None,
    pos_bytes: bytes | None = None,
    pay_bytes: bytes | None = None,
    flags: FieldFlags = TITLE_FLAGS,
) -> str:
    """Write a complete one-segment directory: synthesized segments_1,
    golden _0.si/_0.fnm, synthesized _0_Lucene84_0.{tmd,tim,tip}
    (+ .doc/.pos when given). ``blocks`` overrides the (ap1, ap2, ba)
    term entries — same term names, different stats/fps — so the
    postings composition test can point .tim at a real .doc stream.
    ``flags`` sets the .tim metadata grammar (a positions composition
    writes the blocks under positions flags; the golden .fnm has no
    positions field, so such a test swaps the opened field reader's
    flags to match)."""
    d = str(tmp_path)
    ap1, ap2, ba = blocks if blocks is not None else (AP1, AP2, BA)

    # .tim: BlockTreeTermsDict v6 header + the three leaf blocks
    tim = bytearray(_index_header("BlockTreeTermsDict", 6))
    fps = {}
    for name, block in (("ap1", ap1), ("ap2", ap2), ("ba", ba)):
        fps[name] = len(tim)
        tim += write_block(block, flags=flags)

    # index FST over the two block prefixes; "ap" is floored at 'q'
    items = [
        (b"ap", _pointer(fps["ap1"],
                         floors=[(ord("q"), fps["ap2"] - fps["ap1"], True)])),
        (b"ba", _pointer(fps["ba"])),
    ]
    fst_data, start_node, _empty = write_reversed_fst(
        items, output_type="bytes"
    )

    # .tip: BlockTreeTermsIndex v6 header + the FST bytes
    tip_header = _index_header("BlockTreeTermsIndex", 6)
    tip = tip_header + fst_data
    index_start_fp = len(tip_header)

    # .tmd: two index headers, block size 128, ONE field meta (field 3
    # = "title"), trailing LE-long file lengths
    n_terms = sum(len(b) for b in (ap1, ap2, ba))
    sum_df = sum(e.doc_freq for b in (ap1, ap2, ba) for e in b)
    sum_ttf = sum(e.total_term_freq for b in (ap1, ap2, ba) for e in b)
    tmd = bytearray()
    tmd += _index_header("BlockTreeTermsMeta", 6)
    tmd += _index_header("Lucene84PostingsWriterTerms", 0)
    tmd += _vint(128)
    tmd += _vint(1)           # one field
    tmd += _vint(3)           # field_number of "title"
    tmd += _vint(n_terms)
    tmd += _string(b"\x02")   # root code (unused by seek; FST meta wins)
    tmd += _vint(sum_ttf)
    tmd += _vint(sum_df)      # present: title is DOCS_AND_FREQS
    tmd += _vint(12)          # doc_count (<= sum_doc_freq, <= max_doc)
    tmd += _string(b"apple")  # min_term
    tmd += _string(b"bats")   # max_term
    tmd += _vint(index_start_fp)
    tmd += _fst_meta(start_node, len(fst_data))
    tmd += len(tip).to_bytes(8, "little")  # index_length
    tmd += len(tim).to_bytes(8, "little")  # terms_length

    with open(os.path.join(d, "segments_1"), "wb") as f:
        f.write(_synth_segments_bytes(
            7, "_0", [("commit", "one")], seg_id=seg_id_in_manifest
        ))
    with open(os.path.join(d, "_0.si"), "wb") as f:
        f.write(golden_bytes("segment.si"))
    with open(os.path.join(d, "_0.fnm"), "wb") as f:
        f.write(golden_bytes("field_infos.fnm"))
    for ext, blob in (("tmd", tmd), ("tim", tim), ("tip", tip)):
        with open(os.path.join(d, f"_0_Lucene84_0.{ext}"), "wb") as f:
            f.write(bytes(blob))
    if doc_bytes is not None:
        with open(os.path.join(d, "_0_Lucene84_0.doc"), "wb") as f:
            f.write(doc_bytes)
    if pos_bytes is not None:
        with open(os.path.join(d, "_0_Lucene84_0.pos"), "wb") as f:
            f.write(pos_bytes)
    if pay_bytes is not None:
        with open(os.path.join(d, "_0_Lucene84_0.pay"), "wb") as f:
            f.write(pay_bytes)
    return d


def test_open_index_seek_exact_every_term(tmp_path):
    d = _synth_dir(tmp_path)
    index = open_index(d)
    assert [s.seg_name for s in index.segments] == ["_0"]
    seg = index.segments[0]
    # golden metadata surfaced through the composition
    assert seg.segment_info["doc_count"] == 65460
    assert "title" in seg.field_readers
    assert seg.field_readers["title"].meta["min_term"] == b"apple"
    for term, block, i in ALL_TERMS:
        hits = index.seek_exact("title", term)
        assert hits == [("_0", expected_state(block, i, TITLE_FLAGS))], term


def test_open_index_misses_and_pruning(tmp_path):
    d = _synth_dir(tmp_path)
    index = open_index(d)
    # min/max pruning (terms_enumerator.ml:212-218)
    assert index.seek_exact("title", b"aardvark") == []
    assert index.seek_exact("title", b"zebra") == []
    # inside [min, max]: full walk, then floor-block / suffix-scan miss
    assert index.seek_exact("title", b"apz") == []      # floor block miss
    assert index.seek_exact("title", b"banana") == []   # suffix-scan miss
    assert index.seek_exact("title", b"aqua") == []     # partial FST prefix
    # a golden-.fnm field with no terms dictionary in this .tmd
    with pytest.raises(KeyError):
        index.seek_exact("id", b"x")
    with pytest.raises(KeyError):
        index.seek_exact("no_such_field", b"x")


def test_open_index_postings_streams_open_lazily(tmp_path):
    """Open-time cost stays metadata-sized: the .doc/.pos streams (the
    bulk of a real segment's bytes) are read only on first postings/
    positions access — a seek_exact-only session (the reference app's
    whole surface, lucene_tools.ml:7-27) never loads them."""
    import ocaml_lucene_spark.interop.postings_stream as ps

    docs = np.arange(1, 11, dtype=np.int64) * 3
    freqs = np.ones(10, dtype=np.int64)
    doc_bytes, _metas = ps.write_doc_stream([(docs, freqs)], SEG_ID)
    d = _synth_dir(tmp_path, doc_bytes=doc_bytes)
    index = open_index(d)
    seg = index.segments[0]
    # cached_property materializes into the instance dict on first use
    assert "doc_reader" not in seg.__dict__ and "pos_reader" not in seg.__dict__
    index.seek_exact("title", b"apple")
    assert "doc_reader" not in seg.__dict__
    assert seg.doc_reader is not None  # first touch reads the file
    assert "doc_reader" in seg.__dict__
    assert seg.pos_reader is None  # no .pos file in this directory


def test_open_index_rejects_segment_id_mismatch(tmp_path):
    d = _synth_dir(tmp_path, seg_id_in_manifest=bytes(16))
    with pytest.raises(ValueError, match="segment id mismatch"):
        open_index(d)


def test_cli_matches_lucene_tools_output(tmp_path, capsys):
    """app/lucene_tools.ml prints 'Segment = %s' + the block state per
    hit, or 'Failed to match!'."""
    d = _synth_dir(tmp_path)
    assert main([d, "title", "apple"]) == 0
    out = capsys.readouterr().out
    assert "Segment = _0" in out and "Block state = " in out
    assert "doc_freq=3" in out and "total_term_freq=7" in out
    assert main([d, "title", "zzz"]) == 1
    assert "Failed to match!" in capsys.readouterr().out
    assert main([d]) == 2
