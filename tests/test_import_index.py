"""Lucene-segment importer end-to-end: a full synthetic Lucene-layout
directory (the accepted evidence model — golden .si, grammar-inverse
segments_N/.fnm/.tmd/.tim/.tip/.doc/.pos writers whose read side is
fixture-verified) imports into an engine parquet segment, and BM25 /
phrase queries over it are rank- AND score-identical to oracle.py
over the same postings — the reference's stated goal
("to be able to run simple queries on indexes constructed by Lucene",
/root/reference/README.md:5) closed end to end.

The synthesized corpus deliberately covers every postings shape:
a df>128 hot term (packed PFOR blocks + skip list), df<128 vint
tails, a df=1 singleton (inline .tim doc id, no .doc bytes), floor-
split blocks, and multi-byte block prefixes.
"""

from __future__ import annotations

import math
import os
import random
from types import SimpleNamespace

import numpy as np
import pytest

from ocaml_lucene_spark.interop.fst_writer import write_reversed_fst
from ocaml_lucene_spark.interop.import_index import (
    _segment_closures,
    enumerate_blocks,
    enumerate_terms,
    import_lucene_index,
    lucene_postings_df,
)
from ocaml_lucene_spark.interop.norms import encode_doc_lengths, write_norms
from ocaml_lucene_spark.interop.open_index import SegmentReader, open_index
from ocaml_lucene_spark.interop.postings_stream import write_postings_streams
from ocaml_lucene_spark.interop.terms_block import (
    FieldFlags,
    TermEntry,
    write_block,
)
from ocaml_lucene_spark.oracle import OracleIndex
from test_open_index import (
    CODEC_MAGIC,
    SEG_ID,
    _fst_meta,
    _index_header,
    _string,
    _vint,
    golden_bytes,
)
from test_reference_fixtures import _synth_segments_bytes
from test_terms_block import _pointer

FIELD = "body"
PFLAGS = FieldFlags(has_freqs=True, has_positions=True)
FOOTER = (~CODEC_MAGIC & 0xFFFFFFFF).to_bytes(4, "big") + bytes(12)

# sorted vocabulary; the block layout below groups them as
#   prefix b"ap" (floor-split at label 'q'): apple apply | apq apqx
#   prefix b"ba": bat bats      prefix b"car": care cart
#   prefix b"do": dog           prefix b"ze": zebra (df=1 singleton)
VOCAB = ["apple", "apply", "apq", "apqx", "bat", "bats", "care", "cart", "dog"]
BLOCK_LAYOUT = [
    (b"ap", ["apple", "apply"]),
    (b"ap", ["apq", "apqx"]),
    (b"ba", ["bat", "bats"]),
    (b"car", ["care", "cart"]),
    (b"do", ["dog"]),
    (b"ze", ["zebra"]),
]


def _make_corpus(seed: int = 11, n_docs: int = 400) -> list[list[str]]:
    """Deterministic token sequences; 'bat' hot (df > 128 so its
    postings take the packed-block + skip-list path), 'zebra' in
    exactly one doc (singleton)."""
    rng = random.Random(seed)
    weights = [3, 1, 2, 1, 30, 2, 4, 2, 6]
    docs = [
        rng.choices(VOCAB, weights=weights, k=rng.randint(3, 40))
        for _ in range(n_docs)
    ]
    docs[7] = docs[7] + ["zebra"]
    return docs


def _postings_map(docs: list[list[str]]) -> dict[str, tuple[np.ndarray, list]]:
    """term -> (sorted doc ids, per-doc ascending position arrays)."""
    per_term: dict[str, dict[int, list[int]]] = {}
    for d, toks in enumerate(docs):
        for p, t in enumerate(toks):
            per_term.setdefault(t, {}).setdefault(d, []).append(p)
    return {
        t: (
            np.array(sorted(m), dtype=np.int64),
            [np.array(m[d], dtype=np.int64) for d in sorted(m)],
        )
        for t, m in per_term.items()
    }


def _oracle_from(postings: dict, doc_base: int = 0) -> OracleIndex:
    idx = OracleIndex()
    for t, (term_docs, poss) in postings.items():
        for d, ps in zip(term_docs.tolist(), poss):
            idx.postings[t][d + doc_base] = len(ps)
            idx.positions[t][d + doc_base] = list(ps)
            idx.doc_lens[d + doc_base] = idx.doc_lens.get(d + doc_base, 0) + len(ps)
    return idx


def _synth_fnm(fields: list[tuple[str, int, int]]) -> bytes:
    """Grammar-inverse .fnm (field_infos_reader.ml read side, fixture-
    verified): header, vint field count, per field (string name, vint
    number, flag byte 0, index-options byte, doc-values byte 0, LE
    long gen -1, empty attributes, 0 point dims), footer. ``fields``:
    (name, number, index_options_code)."""
    buf = bytearray()
    buf += CODEC_MAGIC.to_bytes(4, "big")  # as real Lucene writes it
    buf += _string(b"Lucene60FieldInfos")
    buf += (2).to_bytes(4, "big")  # version >= FORMAT_SELECTIVE_INDEXING
    buf += SEG_ID
    buf += b"\x00"  # empty segment suffix
    buf += _vint(len(fields))
    for name, number, opts in fields:
        buf += _string(name.encode())
        buf += _vint(number)
        buf += b"\x00"  # no term vectors / norms kept / no payloads
        buf += bytes([opts])
        buf += b"\x00"  # doc_values NONE
        buf += b"\xff" * 8  # doc_values_gen -1 (LE long)
        buf += _vint(0)  # attributes
        buf += _vint(0)  # point dims
    buf += FOOTER
    return bytes(buf)


def _entries_for(names: list[str], prefix: bytes, metas: dict) -> list[TermEntry]:
    out = []
    for name in names:
        m, df, ttf = metas[name]
        out.append(
            TermEntry(
                name.encode()[len(prefix):],
                doc_freq=df,
                total_term_freq=ttf,
                doc_start_fp=m["doc_start_fp"],
                singleton_doc_id=m["singleton_doc_id"],
                skip_offset=m["skip_offset"],
                pos_start_fp=m["pos_start_fp"],
                last_pos_block_offset=m["last_pos_block_offset"],
            )
        )
    return out


def _synth_lucene_dir(
    tmp_dir: str,
    postings: dict,
    seg_name: str = "_0",
    write_manifest: bool = True,
    tamper_ttf_of: str | None = None,
    tamper_tmd_sum_ttf: int = 0,
    doc_lengths: np.ndarray | None = None,
) -> str:
    """A complete one-segment Lucene-layout directory over ``postings``
    (term -> (docs, positions)). ``tamper_ttf_of`` inflates one .tim
    term's total_term_freq by 1 (stream-desync injection);
    ``tamper_tmd_sum_ttf`` inflates the .tmd field total (post-build
    invariant injection). ``doc_lengths`` (per-doc token counts for
    docs 0..n-1) additionally writes the Lucene80 {seg}.nvd/.nvm norms
    pair (SmallFloat-encoded, dense over the golden .si max_doc) and
    feeds per-doc norm bytes to the postings writer so skip entries
    carry real competitive impacts."""
    os.makedirs(tmp_dir, exist_ok=True)
    terms_sorted = sorted(postings)
    assert terms_sorted == sorted(
        t for block in BLOCK_LAYOUT for t in block[1]
    ), "corpus must cover the block layout exactly"
    stream_terms = [postings[t] for t in terms_sorted]
    norm_bytes = None
    per_term_norms = None
    if doc_lengths is not None:
        norm_bytes = encode_doc_lengths(np.asarray(doc_lengths, np.int64))
        per_term_norms = [
            norm_bytes[postings[t][0]] for t in terms_sorted
        ]
    doc_bytes, pos_bytes, metas_list = write_postings_streams(
        stream_terms, SEG_ID, norms=per_term_norms
    )
    metas = {
        t: (m, len(postings[t][0]), sum(len(p) for p in postings[t][1]))
        for t, m in zip(terms_sorted, metas_list)
    }
    if tamper_ttf_of is not None:
        m, df, ttf = metas[tamper_ttf_of]
        metas[tamper_ttf_of] = (m, df, ttf + 1)

    tim = bytearray(_index_header("BlockTreeTermsDict", 6))
    fps = []
    for prefix, names in BLOCK_LAYOUT:
        fps.append(len(tim))
        tim += write_block(_entries_for(names, prefix, metas), flags=PFLAGS)

    items = [
        (b"ap", _pointer(fps[0], floors=[(ord("q"), fps[1] - fps[0], True)])),
        (b"ba", _pointer(fps[2])),
        (b"car", _pointer(fps[3])),
        (b"do", _pointer(fps[4])),
        (b"ze", _pointer(fps[5])),
    ]
    fst_data, start_node, _empty = write_reversed_fst(items, output_type="bytes")

    tip_header = _index_header("BlockTreeTermsIndex", 6)
    tip = tip_header + fst_data
    index_start_fp = len(tip_header)

    n_terms = len(terms_sorted)
    sum_df = sum(df for _m, df, _t in metas.values())
    sum_ttf = sum(ttf for _m, _d, ttf in metas.values()) + tamper_tmd_sum_ttf
    doc_count = len({d for t in postings.values() for d in t[0].tolist()})
    tmd = bytearray()
    tmd += _index_header("BlockTreeTermsMeta", 6)
    tmd += _index_header("Lucene84PostingsWriterTerms", 0)
    tmd += _vint(128)
    tmd += _vint(1)  # one field
    tmd += _vint(0)  # field_number of "body"
    tmd += _vint(n_terms)
    tmd += _string(b"\x02")  # root code (unused; FST meta wins)
    tmd += _vint(sum_ttf)
    tmd += _vint(sum_df)
    tmd += _vint(doc_count)
    tmd += _string(terms_sorted[0].encode())   # min_term
    tmd += _string(terms_sorted[-1].encode())  # max_term
    tmd += _vint(index_start_fp)
    tmd += _fst_meta(start_node, len(fst_data))
    tmd += len(tip).to_bytes(8, "little")
    tmd += len(tim).to_bytes(8, "little")

    d = tmp_dir
    if write_manifest:
        with open(os.path.join(d, "segments_1"), "wb") as f:
            f.write(
                _synth_segments_bytes(7, seg_name, [("commit", "one")], seg_id=SEG_ID)
            )
    with open(os.path.join(d, f"{seg_name}.si"), "wb") as f:
        f.write(golden_bytes("segment.si"))
    with open(os.path.join(d, f"{seg_name}.fnm"), "wb") as f:
        # DOCS_AND_FREQS_AND_POSITIONS = index 3 in INDEX_OPTIONS
        f.write(_synth_fnm([(FIELD, 0, 3)]))
    for ext, blob in (
        ("tmd", bytes(tmd)),
        ("tim", bytes(tim)),
        ("tip", tip),
        ("doc", doc_bytes),
        ("pos", pos_bytes),
    ):
        with open(os.path.join(d, f"{seg_name}_Lucene84_0.{ext}"), "wb") as f:
            f.write(blob)
    if norm_bytes is not None:
        # dense over the golden .si max_doc: absent docs get length 0
        max_doc = 65460  # the golden segment.si doc_count (test_reference_fixtures)
        dense = np.zeros(max_doc, dtype=np.int64)
        dense[: len(norm_bytes)] = norm_bytes
        nvd, nvm = write_norms([(0, dense)], SEG_ID, max_doc)
        with open(os.path.join(d, f"{seg_name}.nvd"), "wb") as f:
            f.write(nvd)
        with open(os.path.join(d, f"{seg_name}.nvm"), "wb") as f:
            f.write(nvm)
    return d


@pytest.fixture(scope="module")
def corpus():
    docs = _make_corpus()
    return docs, _postings_map(docs)


def test_enumerate_blocks_and_terms(tmp_path, corpus):
    docs, postings = corpus
    d = _synth_lucene_dir(str(tmp_path), postings)
    seg = open_index(d).segments[0]
    blocks = enumerate_blocks(seg, FIELD)
    assert [p for p, _fp in blocks] == [p for p, _n in BLOCK_LAYOUT]
    got = list(enumerate_terms(seg, FIELD))
    assert [t for t, _s in got] == sorted(t.encode() for t in postings)
    # hot term df > 128 proves the packed-block + skip-list shape is in
    # play; the singleton proves the inline-doc-id shape is
    by_term = dict(got)
    assert by_term[b"bat"].doc_freq > 128
    assert by_term[b"bat"].skip_offset is not None
    assert by_term[b"zebra"].doc_freq == 1
    assert by_term[b"zebra"].singleton_doc_id == 7
    for t, (term_docs, poss) in postings.items():
        st = by_term[t.encode()]
        assert st.doc_freq == len(term_docs)
        assert st.total_term_freq == sum(len(p) for p in poss)
    with pytest.raises(KeyError):
        enumerate_blocks(seg, "no_such_field")


def test_import_bm25_and_phrase_match_oracle(spark, tmp_path, corpus):
    """The headline composition: real-format directory -> distributed
    decode -> engine segment -> BM25 top-k and positional phrase
    counts SCORE-identical to the pure-Python oracle."""
    from ocaml_lucene_spark.query import exec as qexec

    docs, postings = corpus
    d = _synth_lucene_dir(str(tmp_path / "lucene"), postings)
    engine_dir = str(tmp_path / "engine")

    manifest = import_lucene_index(spark, d, engine_dir, FIELD, n_partitions=4)
    oracle = _oracle_from(postings)
    assert manifest["n_docs"] == oracle.n_docs
    assert manifest["sum_dl"] == sum(oracle.doc_lens.values())
    assert manifest["source"] == f"import:lucene:{FIELD}"

    for terms, mode in [
        (["apple", "bat"], "or"),
        (["care", "dog", "apq"], "or"),
        (["bat", "bats"], "and"),
        (["zebra"], "or"),
    ]:
        got = [
            (r.doc_id, r.score)
            for r in qexec.bm25_topk_indexed(
                spark, engine_dir, terms, mode=mode, k=10
            ).collect()
        ]
        expected = oracle.query(terms, mode=mode, k=10)
        # the repo's rank-identity contract (test_index_build.py):
        # identical doc order, scores equal to 1e-9 (the engine's
        # numpy expression associates (idf*tf*2.2)/D where the oracle
        # does idf*(tf*2.2/D) — a 1-ulp wobble, not a semantic diff)
        assert [d for d, _s in got] == [d for d, _s in expected], (terms, mode)
        for (_gd, gs), (_ed, es) in zip(got, expected):
            assert math.isclose(gs, es, rel_tol=1e-9), (terms, mode, gs, es)

    got_phrase = {
        r.doc_id: r.n_phrase
        for r in qexec.phrase_counts_indexed(
            spark, engine_dir, "bat", "bats"
        ).collect()
    }
    assert got_phrase == oracle.phrase_count("bat", "bats")


def test_import_task_local_desync_raises(spark, tmp_path, corpus):
    """A .tim term state whose total_term_freq disagrees with the .doc
    stream fails INSIDE the decode task (the importer's stream-desync
    invariant), never silently imports."""
    docs, postings = corpus
    d = _synth_lucene_dir(
        str(tmp_path / "lucene"), postings, tamper_ttf_of="dog"
    )
    with pytest.raises(Exception, match="total_term_freq"):
        import_lucene_index(
            spark, d, str(tmp_path / "engine"), FIELD, n_partitions=2
        )


def test_import_verify_catches_tmd_mismatch(spark, tmp_path, corpus):
    """An inflated .tmd sum_total_term_freq survives metadata parsing
    but fails the post-build invariant sweep (verify=True default);
    verify=False documents the escape hatch."""
    docs, postings = corpus
    d = _synth_lucene_dir(
        str(tmp_path / "lucene"), postings, tamper_tmd_sum_ttf=5
    )
    with pytest.raises(ValueError, match="sum_total_term_freq"):
        import_lucene_index(spark, d, str(tmp_path / "engine"), FIELD)
    row = import_lucene_index(
        spark, d, str(tmp_path / "engine2"), FIELD, verify=False
    )
    assert row["n_docs"] > 0


def test_import_multisegment_rebases_doc_ids(spark, tmp_path):
    """Two Lucene segments in one directory import as ONE engine
    segment with doc ids rebased by cumulative max_doc — exercised via
    a pre-opened index object because the reference's segments_N
    grammar carries one segment per commit (codec/segments.ml quirk).
    BM25 over the union matches an oracle holding both id spaces."""
    from ocaml_lucene_spark.query import exec as qexec

    docs_a = _make_corpus(seed=21, n_docs=60)
    docs_b = _make_corpus(seed=22, n_docs=50)
    post_a, post_b = _postings_map(docs_a), _postings_map(docs_b)
    d = str(tmp_path / "lucene")
    _synth_lucene_dir(d, post_a, seg_name="_0")
    _synth_lucene_dir(d, post_b, seg_name="_1", write_manifest=False)
    seg0 = SegmentReader(d, "_0", SEG_ID)
    seg1 = SegmentReader(d, "_1", SEG_ID)
    index = SimpleNamespace(dir_path=d, segments=[seg0, seg1])
    base1 = seg0.segment_info["doc_count"]  # golden .si max_doc

    engine_dir = str(tmp_path / "engine")
    manifest = import_lucene_index(
        spark, d, engine_dir, FIELD, n_partitions=4, index=index
    )
    oracle = _oracle_from(post_a)
    for t, (term_docs, poss) in post_b.items():
        for doc, ps in zip(term_docs.tolist(), poss):
            g = doc + base1
            oracle.postings[t][g] = len(ps)
            oracle.positions[t][g] = list(ps)
            oracle.doc_lens[g] = oracle.doc_lens.get(g, 0) + len(ps)
    assert manifest["n_docs"] == oracle.n_docs == 110

    got = [
        (r.doc_id, r.score)
        for r in qexec.bm25_topk_indexed(
            spark, engine_dir, ["bat", "care"], k=15
        ).collect()
    ]
    expected = oracle.query(["bat", "care"], k=15)
    assert [d for d, _s in got] == [d for d, _s in expected]
    for (_gd, gs), (_ed, es) in zip(got, expected):
        assert math.isclose(gs, es, rel_tol=1e-9)
    # docs from segment _1 live above the rebase boundary and rank
    assert any(doc_id >= base1 for doc_id, _s in got)


def test_segment_closures_rejects_mixed_positions(tmp_path, corpus):
    docs, postings = corpus
    d = _synth_lucene_dir(str(tmp_path), postings)
    seg0 = SegmentReader(d, "_0", SEG_ID)
    seg1 = SegmentReader(d, "_0", SEG_ID)
    import dataclasses

    fr = seg1.field_readers[FIELD]
    seg1.field_readers[FIELD] = dataclasses.replace(
        fr, flags=FieldFlags(has_freqs=True, has_positions=False)
    )
    index = SimpleNamespace(dir_path=d, segments=[seg0, seg1])
    with pytest.raises(ValueError, match="positions in some segments"):
        _segment_closures(index, FIELD)


def test_import_cli(spark, tmp_path, corpus, capsys):
    """The importer CLI completes the user story the open_index CLI
    starts: directory in, queryable engine index out."""
    from ocaml_lucene_spark.interop.import_index import main

    docs, postings = corpus
    d = _synth_lucene_dir(str(tmp_path / "lucene"), postings)
    out_dir = str(tmp_path / "engine")
    assert main([d, FIELD, out_dir]) == 0
    msg = capsys.readouterr().out
    assert "imported segment" in msg and "invariants verified" in msg
    assert main([d]) == 2


def test_import_rejects_live_docs(tmp_path, corpus):
    docs, postings = corpus
    d = _synth_lucene_dir(str(tmp_path), postings)
    with open(os.path.join(d, "_0.liv"), "wb") as f:
        f.write(b"\x00")
    index = open_index(d)
    with pytest.raises(NotImplementedError, match="liv"):
        _segment_closures(index, FIELD)


def test_norms_surface_through_open_index(tmp_path, corpus):
    """doc_lengths -> .nvd/.nvm -> SegmentReader.norms round-trip, and
    the writer threads per-doc norm bytes into skip-entry impacts."""
    docs, postings = corpus
    dl = np.array([len(toks) for toks in docs], dtype=np.int64)
    d = _synth_lucene_dir(str(tmp_path / "with_norms"), postings,
                          doc_lengths=dl)
    seg = open_index(d).segments[0]
    arr = seg.norms(FIELD)
    assert arr is not None
    assert len(arr) == seg.segment_info["doc_count"]
    assert np.array_equal(arr[: len(dl)], encode_doc_lengths(dl))
    assert np.all(arr[len(dl):] == 0)
    with pytest.raises(KeyError):
        seg.norms("no_such_field")
    # the hot term's skip entries now carry non-empty impact sets
    from ocaml_lucene_spark.interop.postings_stream import SkipListReader
    from ocaml_lucene_spark.interop.terms_block import FieldFlags as FF
    st = seg.seek_exact(FIELD, b"bat")
    sk = SkipListReader(
        seg.doc_reader.data,
        st.doc_start_fp + st.skip_offset,
        (st.doc_freq - 1) // 128,
        has_positions=True,
    )
    assert all(imps for imps in sk.impacts[0])
    # a directory without norms files reads as None
    d2 = _synth_lucene_dir(str(tmp_path / "plain"), postings)
    assert open_index(d2).segments[0].norms(FIELD) is None


def test_import_norms_cross_check(spark, tmp_path, corpus):
    """When the directory carries norms, the importer verifies each
    doc's stored norm byte against SmallFloat(sum tf) distributed; a
    directory whose norms disagree with its postings raises."""
    docs, postings = corpus
    dl = np.array([len(toks) for toks in docs], dtype=np.int64)
    d = _synth_lucene_dir(str(tmp_path / "good"), postings, doc_lengths=dl)
    row = import_lucene_index(spark, d, str(tmp_path / "engine"), FIELD)
    assert row["n_docs"] > 0
    bad = dl.copy()
    bad[11] += 1000  # norm byte no longer matches the postings
    d2 = _synth_lucene_dir(str(tmp_path / "bad"), postings, doc_lengths=bad)
    with pytest.raises(ValueError, match="norms cross-check"):
        import_lucene_index(spark, d2, str(tmp_path / "engine2"), FIELD)
