"""Impacts-consuming block-max WAND over a real-format Lucene
directory: exactness (WAND == exhaustive over the same quantized
inputs, exact float equality) and pruning (skip-impact bounds keep
covered blocks undecoded).

The corpus/fixture model is test_import_index's: grammar-inverse
writers whose read side is fixture-verified, norms-fed skip impacts,
the golden .si. No Spark involvement — this is the driver-side
interop surface (open_index's query closure)."""

from types import SimpleNamespace

import numpy as np
import pytest

from ocaml_lucene_spark.interop.open_index import SegmentReader, open_index
from ocaml_lucene_spark.interop.wand_search import (
    bm25_topk,
    bm25_topk_exhaustive,
)
from test_import_index import (
    FIELD,
    SEG_ID,
    VOCAB,
    _make_corpus,
    _postings_map,
    _synth_lucene_dir,
)

QUERIES = [
    (["bat"], "or"),                       # hot term, skip-listed
    (["zebra", "bat"], "or"),              # rare (singleton) | hot
    (["apple", "dog"], "or"),              # two mids
    (["zebra"], "or"),                     # singleton alone
    (["bat", "dog"], "and"),               # conjunctive
    (["bat", "zebra"], "and"),             # conjunctive incl. singleton
    (["apple", "apply", "apq", "bat", "dog", "care"], "or"),  # wide OR
    (["apqx", "cart"], "or"),              # two rares
    (["missing", "bat"], "or"),            # absent term ignored
    (["missing", "bat"], "and"),           # absent term -> empty
]


def _dl_of(docs):
    return np.array([len(toks) for toks in docs], dtype=np.int64)


@pytest.fixture(scope="module")
def indexed(tmp_path_factory):
    docs = _make_corpus()
    d = _synth_lucene_dir(
        str(tmp_path_factory.mktemp("wand")),
        _postings_map(docs),
        doc_lengths=_dl_of(docs),
    )
    return open_index(d)


@pytest.mark.parametrize("terms,mode", QUERIES)
@pytest.mark.parametrize("k", [1, 3, 10, 50])
def test_wand_equals_exhaustive(indexed, terms, mode, k):
    got, _m = bm25_topk(indexed, FIELD, terms, k=k, mode=mode)
    want = bm25_topk_exhaustive(indexed, FIELD, terms, k=k, mode=mode)
    assert got == want  # docs AND exact float scores


def test_impacts_actually_prune(tmp_path):
    """On a corpus big enough for dozens of packed blocks, the rare|hot
    query must leave a meaningful share of the hot term's covered
    blocks undecoded — this is the observable proof that the skip
    entries' competitive impacts are CONSUMED, not just parsed."""
    docs = _make_corpus(seed=31, n_docs=5000)
    d = _synth_lucene_dir(
        str(tmp_path), _postings_map(docs), doc_lengths=_dl_of(docs)
    )
    idx = open_index(d)
    got, m = bm25_topk(idx, FIELD, ["zebra", "bat"], k=3)
    want = bm25_topk_exhaustive(idx, FIELD, ["zebra", "bat"], k=3)
    assert got == want
    assert m["total_blocks"] >= 30  # the hot term really is block-scale
    assert m["decoded_blocks"] < m["total_blocks"], (
        "no block was pruned: impacts are not driving the bounds"
    )
    ratio = m["decoded_blocks"] / m["total_blocks"]
    assert ratio < 0.9, f"decode ratio {ratio:.2f}: pruning is vestigial"


def test_multisegment_global_stats_and_rebase(tmp_path):
    """Two segments, one ranking: stats are index-global (summed from
    the .tmd field metas), ids rebase by cumulative .si max_doc, and
    WAND == exhaustive across the union."""
    docs_a = _make_corpus(seed=21, n_docs=60)
    docs_b = _make_corpus(seed=22, n_docs=50)
    d = str(tmp_path)
    _synth_lucene_dir(d, _postings_map(docs_a), seg_name="_0",
                      doc_lengths=_dl_of(docs_a))
    _synth_lucene_dir(d, _postings_map(docs_b), seg_name="_1",
                      write_manifest=False, doc_lengths=_dl_of(docs_b))
    seg0 = SegmentReader(d, "_0", SEG_ID)
    seg1 = SegmentReader(d, "_1", SEG_ID)
    idx = SimpleNamespace(segments=[seg0, seg1])
    base1 = seg0.segment_info["doc_count"]

    for terms, mode in [(["bat", "care"], "or"), (["bat", "dog"], "and")]:
        got, _m = bm25_topk(idx, FIELD, terms, k=15, mode=mode)
        want = bm25_topk_exhaustive(idx, FIELD, terms, k=15, mode=mode)
        assert got == want
    got, _m = bm25_topk(idx, FIELD, ["bat"], k=110)
    assert any(doc >= base1 for doc, _s in got), "segment _1 never ranked"


def test_quantized_dl_is_lucenes_not_the_engines(indexed):
    """The scorer uses the SmallFloat-quantized dl (what Lucene's own
    BM25 sees), so docs whose true lengths differ but quantize equal
    tie exactly — spot-check the model is really quantized by
    recomputing one doc's score by hand."""
    import math

    from ocaml_lucene_spark.interop.norms import byte4_to_int, int_to_byte4
    from ocaml_lucene_spark.oracle import B, K1

    got, _m = bm25_topk(indexed, FIELD, ["zebra"], k=1)
    (doc, score), = got
    seg = indexed.segments[0]
    state = seg.seek_exact(FIELD, b"zebra")
    meta = seg.field_readers[FIELD].meta
    n, sum_ttf = meta["doc_count"], meta["sum_total_term_freq"]
    tf = state.total_term_freq  # singleton: ttf == tf
    dl = byte4_to_int(int(seg.norms(FIELD)[doc]))
    idf = math.log(1.0 + (n - 1 + 0.5) / (1 + 0.5))
    expect = idf * tf * (K1 + 1.0) / (
        tf + K1 * (1.0 - B + B * dl / (sum_ttf / n))
    )
    assert score == expect
    # and dl really is the quantized value, not the raw length
    assert int_to_byte4(dl) == int(seg.norms(FIELD)[doc])


def test_fuzz_wand_equals_exhaustive(tmp_path):
    """Seeded sweep over random corpora / queries / modes / k: the
    pruned and unpruned scorers must agree exactly every time."""
    import random

    for round_no in range(8):
        rng = random.Random(1000 + round_no)
        n_docs = rng.randint(150, 700)
        docs = _make_corpus(seed=rng.randint(0, 10**6), n_docs=n_docs)
        d = _synth_lucene_dir(
            str(tmp_path / f"r{round_no}"),
            _postings_map(docs),
            doc_lengths=_dl_of(docs),
        )
        idx = open_index(d)
        for q in range(6):
            terms = rng.sample(VOCAB + ["zebra", "nope"],
                               k=rng.randint(1, 5))
            mode = rng.choice(["or", "and"])
            k = rng.choice([1, 2, 5, 20])
            got, _m = bm25_topk(idx, FIELD, terms, k=k, mode=mode)
            want = bm25_topk_exhaustive(idx, FIELD, terms, k=k, mode=mode)
            assert got == want, (round_no, terms, mode, k)


def test_norms_free_index_raises(tmp_path):
    docs = _make_corpus(seed=41, n_docs=300)
    d = _synth_lucene_dir(str(tmp_path), _postings_map(docs))  # no norms
    idx = open_index(d)
    with pytest.raises(ValueError, match="no norms|empty impact"):
        bm25_topk(idx, FIELD, ["bat"], k=5)


def test_cli_and_index_method(tmp_path, capsys):
    docs = _make_corpus(seed=51, n_docs=200)
    d = _synth_lucene_dir(
        str(tmp_path), _postings_map(docs), doc_lengths=_dl_of(docs)
    )
    from ocaml_lucene_spark.interop import wand_search

    rc = wand_search.main([d, FIELD, "zebra", "bat", "--k", "5"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[-1].startswith("# decoded ")
    hits = [ln.split("\t") for ln in out[:-1]]
    assert hits
    idx = open_index(d)
    api = idx.bm25_topk(FIELD, ["zebra", "bat"], k=5)
    assert [d_ for d_, _s in api] == [int(doc) for doc, _s in hits]
    for (_d, s_api), (_d2, s_cli) in zip(api, hits):
        assert f"{s_api:.6f}" == s_cli  # the CLI prints 6dp
    assert wand_search.main([d, FIELD, "nothere"]) == 1


def test_impact_bound_covers_every_frontier_score():
    """A block's impact bound is >= the decoded score of every (freq,
    norm) pair on its frontier, bit for bit: the bound and the scores
    are one expression (query/wand.bm25_scores). Multiplying idf
    outside the tf part instead lands one ulp under a real score in
    about a quarter of such draws, and the strict ``bound < theta``
    test then prunes a tied doc."""
    from ocaml_lucene_spark.interop.wand_search import _DL_LUT, _impact_ub
    from ocaml_lucene_spark.query.wand import bm25_scores

    rng = np.random.default_rng(17)
    norms = np.nonzero((_DL_LUT >= 1) & (_DL_LUT <= 1999))[0]
    for _ in range(4000):
        pairs = [
            (int(rng.integers(1, 50)), int(rng.choice(norms)))
            for _ in range(int(rng.integers(1, 6)))
        ]
        idf = float(rng.uniform(0.01, 12.0))
        avgdl = float(rng.choice([137.3, rng.uniform(10.0, 500.0)]))
        ub = _impact_ub(pairs, idf, avgdl)
        tf = np.array([f for f, _ in pairs], dtype=np.float64)
        scores = bm25_scores(idf, tf, _DL_LUT[[n for _, n in pairs]], avgdl)
        assert (ub >= scores).all(), (pairs, idf, avgdl, ub, scores)
