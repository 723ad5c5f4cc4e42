"""Merge + incremental indexing tests.

- incremental two-batch build answers identically to one-shot build
  (global stats aggregation across segments)
- tiered merge preserves query results exactly (merge invariance)
- tiered policy selects smallest same-tier segments
"""

import math

import pytest
from pyspark.sql import functions as F

from ocaml_lucene_spark.index.build import add_documents, assign_doc_ids, build_index
from ocaml_lucene_spark.index.merge import maybe_merge, merge_segments, select_merges
from ocaml_lucene_spark.index.segments import list_segments
from ocaml_lucene_spark.oracle import OracleIndex
from ocaml_lucene_spark.query.exec import bm25_topk_indexed, bm25_topk_wand_exec
from ocaml_lucene_spark.sources.corpus import generate_query_set


@pytest.fixture(scope="module")
def multi(spark, tiny_corpus, tmp_path_factory):
    """Index built incrementally in 3 batches; oracle over the whole set."""
    index_dir = str(tmp_path_factory.mktemp("index_multi"))
    docs = spark.read.parquet(tiny_corpus).select("url", "text")
    batches = [
        docs.filter(F.crc32("url") % 3 == i) for i in range(3)
    ]
    for b in batches:
        add_documents(b, index_dir, n_partitions=4, salt_df_threshold=300, n_salts=4)
    # oracle over the union with engine-assigned doc ids
    ids = []
    base = 0
    texts = {}
    for b in batches:
        with_ids = assign_doc_ids(b)
        rows = with_ids.select("doc_id", "text").collect()
        for r in rows:
            texts[r.doc_id + base] = r.text
        base += len(rows)
    return index_dir, OracleIndex.from_texts(texts)


def _check(spark, index_dir, oracle, n_queries=12):
    for q in generate_query_set(seed=42, n_queries=n_queries):
        expected = oracle.query(q["terms"], q["mode"], q["k"])
        got = [
            (r.doc_id, r.score)
            for r in bm25_topk_indexed(spark, index_dir, q["terms"], q["mode"], q["k"]).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in expected], (q, got[:3], expected[:3])
        for (_, gs), (_, es) in zip(got, expected):
            assert math.isclose(gs, es, rel_tol=1e-9)


def test_incremental_equals_oracle(spark, multi):
    index_dir, oracle = multi
    assert len(list_segments(index_dir)) == 3
    _check(spark, index_dir, oracle)


def test_merge_preserves_results(spark, multi):
    index_dir, oracle = multi
    live_before = [r["segment"] for r in list_segments(index_dir)]
    row = merge_segments(spark, index_dir, live_before[:2], n_partitions=4)
    live_after = list_segments(index_dir)
    names_after = {r["segment"] for r in live_after}
    assert row["segment"] in names_after
    assert not (set(live_before[:2]) & names_after)
    _check(spark, index_dir, oracle)
    # WAND agrees post-merge too
    got = bm25_topk_wand_exec(spark, index_dir, ["the", "and"], "or", 10).collect()
    exp = oracle.query(["the", "and"], "or", 10)
    assert [r.doc_id for r in got] == [d for d, _ in exp]


def test_maybe_merge_to_single_segment(spark, multi, check_terms):
    index_dir, oracle = multi
    maybe_merge(spark, index_dir, merge_factor=2, n_partitions=4)
    assert len(list_segments(index_dir)) == 1
    _check(spark, index_dir, oracle, n_queries=8)
    # the last merge takes a term salted in one source and unsalted in
    # the other: still one terms row per term
    check_terms(index_dir)


def test_add_after_purging_merge_keeps_doc_ids_disjoint(spark, tiny_corpus, tmp_path_factory):
    """A purging merge lowers the live doc count but not the highest
    live doc id, so the next add must start above that id: doc ids stay
    disjoint and the index still ranks like the oracle over the live
    docs."""
    from ocaml_lucene_spark.index.deletes import delete_docs
    from ocaml_lucene_spark.index.segments import read_stats
    from ocaml_lucene_spark.query.exec import norms_df

    index_dir = str(tmp_path_factory.mktemp("index_add_after_purge"))
    ranked = assign_doc_ids(spark.read.parquet(tiny_corpus).select("url", "text"))
    first = ranked.filter(F.col("doc_id") < 300).select("url", "text")
    later = ranked.filter(F.col("doc_id").between(300, 399)).select("url", "text")

    add_documents(first, index_dir, n_partitions=4)
    texts = {r.doc_id: r.text for r in assign_doc_ids(first).collect()}
    victims = list(range(10, 30))  # below the highest id, which stays live
    delete_docs(index_dir, victims)
    for d in victims:
        del texts[d]
    merge_segments(spark, index_dir, [r["segment"] for r in list_segments(index_dir)])

    row = add_documents(later, index_dir, n_partitions=4)
    assert read_stats(index_dir, row["segment"])["doc_id_base"] == 300
    for r in assign_doc_ids(later).collect():
        texts[r.doc_id + 300] = r.text

    ids = [r.doc_id for r in norms_df(spark, index_dir).collect()]
    assert len(ids) == len(set(ids)) == 380
    assert set(ids) == set(texts)
    _check(spark, index_dir, OracleIndex.from_texts(texts))


@pytest.mark.parametrize("how", ["merge_segments", "maybe_merge"])
def test_merge_drops_fully_deleted_segments(spark, tiny_corpus, tmp_path_factory, how):
    """Lucene drops a segment whose every doc is deleted. A merge group
    with no live doc retires its sources, takes their ids out of the
    deletes files and publishes no segment (no manifest row, no
    directory); maybe_merge returns only the merges that published one.
    Queries then rank like the oracle over the remaining segment, whose
    own deleted doc stays deleted."""
    import os

    from ocaml_lucene_spark.index.deletes import delete_docs, deleted_ids

    index_dir = str(tmp_path_factory.mktemp(f"index_all_deleted_{how}"))
    ranked = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text")
    spans = [(0, 19), (20, 39), (40, 99)] if how == "maybe_merge" else [(0, 19), (40, 99)]
    for a, b in spans:
        build_index(ranked.filter(F.col("doc_id").between(a, b)), index_dir, n_partitions=2)
    *gone, kept = [r["segment"] for r in list_segments(index_dir)]
    gone_ids = [d for a, b in spans[:-1] for d in range(a, b + 1)]
    delete_docs(index_dir, gone_ids + [50])

    if how == "merge_segments":
        assert merge_segments(spark, index_dir, gone, n_partitions=2) is None
    else:
        assert maybe_merge(spark, index_dir, merge_factor=2, n_partitions=2) == []
    assert [r["segment"] for r in list_segments(index_dir)] == [kept]
    assert sorted(os.listdir(os.path.join(index_dir, "segments"))) == sorted(gone + [kept])
    assert deleted_ids(index_dir).tolist() == [50]

    texts = {r.doc_id: r.text for r in ranked.filter(F.col("doc_id").between(40, 99)).collect()}
    oracle = OracleIndex.from_texts(texts)
    by_df = sorted(oracle.term_stats().items(), key=lambda kv: (-kv[1][0], kv[0]))
    hot, mid = by_df[0][0], by_df[len(by_df) // 10][0]
    for terms, mode in (([hot, mid], "or"), ([hot, mid], "and"), ([mid], "or")):
        expected = [x for x in oracle.query(terms, mode, 11) if x[0] != 50][:10]
        for plan in (bm25_topk_indexed, bm25_topk_wand_exec):
            got = [(r.doc_id, r.score) for r in plan(spark, index_dir, terms, mode, 10).collect()]
            assert [d for d, _ in got] == [d for d, _ in expected], (plan, terms, mode)
            for (_, gs), (_, es) in zip(got, expected):
                assert math.isclose(gs, es, rel_tol=1e-9)


def _decoded_segment(index_dir, segment):
    """({(term, doc): (tf, dl, positions, starts)}, block rows) of one
    segment's postings, decoded block by block with the per-block
    reference decoders."""
    import glob
    import os

    import pyarrow.parquet as pq

    from ocaml_lucene_spark.codecs.blocks import decode_doc_ids, decode_positions, decode_tfs
    from ocaml_lucene_spark.index.segments import segment_paths

    postings, blocks = {}, []
    for f in glob.glob(os.path.join(segment_paths(index_dir, segment)["postings"], "*.parquet")):
        for r in pq.read_table(f).to_pylist():
            docs = decode_doc_ids(r["doc_bytes"]).tolist()
            tf = decode_tfs(r["tf_bytes"], r["n"])
            dl = decode_tfs(r["dl_bytes"], r["n"])
            pos = decode_positions(r["pos_bytes"], tf)
            off = decode_positions(r["off_bytes"], tf)
            for j, d in enumerate(docs):
                postings[(r["term"], d)] = (int(tf[j]), int(dl[j]), pos[j].tolist(), off[j].tolist())
            blocks.append((r["term"], r["block_no"], docs))
    return postings, blocks


def test_merge_rebuckets_straddling_salted_blocks(spark, tiny_corpus, tmp_path_factory, check_terms):
    """A merge of salted segments with positions, offsets and deletes
    re-buckets salted blocks over the merged doc span: source blocks
    that straddle the new salt boundaries (n_salts=4) split between
    salts, and the merged segment decodes to the union of the sources'
    postings less the purged docs, every salted block inside its salt's
    doc range and each (term, salt) in doc order. (A term salted in one
    source and not in another keeps its unsalted rows at salt 0.)"""
    from ocaml_lucene_spark.index.deletes import delete_docs
    from ocaml_lucene_spark.index.segments import doc_bounds

    index_dir = str(tmp_path_factory.mktemp("index_straddle"))
    docs = spark.read.parquet(tiny_corpus).select("url", "text")
    for part in (docs.filter(F.crc32("url") % 5 < 2), docs.filter(F.crc32("url") % 5 >= 2)):
        add_documents(
            part, index_dir, n_partitions=3, with_offsets=True,
            salt_df_threshold=40, n_salts=4,
        )
    names = [r["segment"] for r in list_segments(index_dir)]
    sources = [_decoded_segment(index_dir, s) for s in names]
    lo, hi = doc_bounds(index_dir)
    span = hi - lo + 1

    def salt(d):
        return 1 + min(3, (d - lo) * 4 // span)

    straddling = [
        b for _, blocks in sources for b in blocks
        if b[1] >= 100_000 and salt(b[2][0]) != salt(b[2][-1])
    ]
    assert straddling
    deleted = set(range(0, 800, 13)) | set(straddling[0][2][:3])
    delete_docs(index_dir, deleted)

    row = merge_segments(spark, index_dir, names, n_partitions=3, n_salts=4)
    got, blocks = _decoded_segment(index_dir, row["segment"])
    want = {k: v for p, _ in sources for k, v in p.items() if k[1] not in deleted}
    assert got == want
    hot = {b[0] for _, bl in sources for b in bl if b[1] >= 100_000}
    runs = {}
    for term, block_no, ds in sorted(blocks, key=lambda b: (b[0], b[1])):
        s = block_no // 100_000
        assert s == 0 or term in hot, (term, block_no)
        assert s == 0 or {salt(d) for d in ds} == {s}, (term, block_no)
        runs.setdefault((term, s), []).extend(ds)
    assert all(r == sorted(set(r)) for r in runs.values())
    check_terms(index_dir)


def test_select_merges_policy():
    mk = lambda n, b: {"segment": n, "bytes_packed": b, "status": "live"}  # noqa: E731
    segs = [mk("a", 100), mk("b", 120), mk("c", 110), mk("d", 130),
            mk("e", 10_000), mk("f", 11_000)]
    merges = select_merges(segs, merge_factor=4)
    assert merges == [["a", "c", "b", "d"]]
    # a lone tier below merge_factor is left alone
    assert select_merges(segs[:3], merge_factor=4) == []


def test_merge_mixed_positions_degrades(spark, tiny_corpus, tmp_path_factory):
    """Merging a positions segment with a docs-only one degrades the
    merged segment to DOCS_AND_FREQS explicitly (lowest-common index
    options) instead of crashing on pos_bytes=None mid-job."""
    from ocaml_lucene_spark.index.segments import read_stats

    index_dir = str(tmp_path_factory.mktemp("index_mixed"))
    docs = spark.read.parquet(tiny_corpus).select("url", "text")
    a = docs.filter(F.crc32("url") % 2 == 0)
    b = docs.filter(F.crc32("url") % 2 == 1)
    add_documents(a, index_dir, n_partitions=4, with_positions=True)
    add_documents(b, index_dir, n_partitions=4, with_positions=False)
    names = [r["segment"] for r in list_segments(index_dir)]
    row = merge_segments(spark, index_dir, names, n_partitions=4)
    stats = read_stats(index_dir, row["segment"])
    assert stats["index_options"] == "DOCS_AND_FREQS"
    assert stats["with_positions"] is False
    # queries still work over the merged docs-only segment
    texts = {}
    base = 0
    for part in (a, b):
        rows = assign_doc_ids(part).select("doc_id", "text").collect()
        for r in rows:
            texts[r.doc_id + base] = r.text
        base += len(rows)
    oracle = OracleIndex.from_texts(texts)
    exp = oracle.query(["the", "and"], "or", 10)
    got = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, index_dir, ["the", "and"], "or", 10).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in exp]


def test_merge_carries_offsets(spark, tmp_path_factory):
    """Merging two with_offsets segments preserves the offsets stream
    (term_offsets answers identically before and after)."""
    from ocaml_lucene_spark.index.build import build_index
    from ocaml_lucene_spark.index.segments import read_stats
    from ocaml_lucene_spark.query.exec import term_offsets

    index_dir = str(tmp_path_factory.mktemp("index_off_merge"))
    texts = {i: f"Alpha beta{i % 5} ALPHA gamma alpha" for i in range(200)}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    build_index(docs.filter("doc_id < 100"), index_dir, segment="a", n_partitions=2, with_offsets=True)
    build_index(docs.filter("doc_id >= 100"), index_dir, segment="b", n_partitions=2, with_offsets=True)
    before = {(r.doc_id, r.pos, r.start) for r in term_offsets(spark, index_dir, "alpha").collect()}
    row = merge_segments(spark, index_dir, ["a", "b"], n_partitions=2)
    stats = read_stats(index_dir, row["segment"])
    assert stats["with_offsets"] is True
    assert stats["index_options"] == "DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS"
    after = {(r.doc_id, r.pos, r.start) for r in term_offsets(spark, index_dir, "alpha").collect()}
    assert before == after and before
    # case-insensitive offsets: 'Alpha' at 0, 'ALPHA' and 'alpha' later
    doc0 = sorted((p, s) for d, p, s in before if d == 0)
    assert doc0 == [(0, 0), (2, 12), (4, 24)], doc0
