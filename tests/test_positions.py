"""Positional index (with_positions build) end-to-end: phrase counts
from the packed .pos stream match the oracle exactly."""

import pytest

from ocaml_lucene_spark.index.build import assign_doc_ids, build_index
from ocaml_lucene_spark.oracle import OracleIndex
from ocaml_lucene_spark.query.exec import bm25_topk_indexed, phrase_counts_indexed


@pytest.fixture(scope="module")
def pos_index(spark, tiny_corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index_pos"))
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text").cache()
    build_index(docs, index_dir, n_partitions=4, with_positions=True)
    texts = {r.doc_id: r.text for r in docs.collect()}
    return index_dir, OracleIndex.from_texts(texts)


def test_phrase_counts_match_oracle(spark, pos_index):
    index_dir, oracle = pos_index
    # pick bigrams that actually occur: scan oracle for a frequent pair
    pairs = []
    for t1, docs1 in list(oracle.positions.items())[:50]:
        for t2 in list(oracle.positions)[:50]:
            pc = oracle.phrase_count(t1, t2)
            if len(pc) >= 3:
                pairs.append((t1, t2, pc))
            if len(pairs) >= 3:
                break
        if len(pairs) >= 3:
            break
    assert pairs, "corpus has no repeated bigrams?"
    for t1, t2, expected in pairs:
        got = {
            r.doc_id: r.n_phrase
            for r in phrase_counts_indexed(spark, index_dir, t1, t2).collect()
        }
        assert got == expected, (t1, t2)


def test_phrase_multi_matches_reference(spark, tmp_path_factory):
    """n-word phrases (incl. repeated words) on BOTH paths equal a
    pure-Python sliding-window count."""
    from ocaml_lucene_spark.functions.analysis import py_tokenize
    from ocaml_lucene_spark.query.bm25 import phrase_counts_multi
    from ocaml_lucene_spark.query.exec import phrase_counts_indexed_multi

    texts = {
        0: "one two three one two three two",
        1: "two two two one",
        2: "one two three",
        3: "three two one two three one two two",
        4: "unrelated words only here",
    }

    def ref(words):
        out = {}
        for d, t in texts.items():
            toks = py_tokenize(t)
            n = sum(
                1
                for i in range(len(toks) - len(words) + 1)
                if toks[i : i + len(words)] == words
            )
            if n:
                out[d] = n
        return out

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    index_dir = str(tmp_path_factory.mktemp("index_pos_multi"))
    build_index(docs, index_dir, n_partitions=2, with_positions=True)
    for words in (
        ["one", "two", "three"],
        ["two", "two"],          # repeated word
        ["two", "two", "two"],   # triple repeat (doc 1)
        ["three", "one", "two"],
        ["one", "one"],          # absent phrase
    ):
        expected = ref(words)
        got_logical = {
            r.doc_id: r.n_phrase
            for r in phrase_counts_multi(docs, words).collect()
        }
        got_indexed = {
            r.doc_id: r.n_phrase
            for r in phrase_counts_indexed_multi(spark, index_dir, words).collect()
        }
        assert got_logical == expected, (words, got_logical, expected)
        assert got_indexed == expected, (words, got_indexed, expected)


def test_multi_phrase_matches_reference(spark, tmp_path_factory):
    """MultiPhraseQuery (per-slot alternatives) equals a pure-Python
    sliding-window count over the alternative sets, incl. overlapping
    alternatives across slots and a slot shared with its neighbour."""
    from ocaml_lucene_spark.functions.analysis import py_tokenize
    from ocaml_lucene_spark.query.exec import multi_phrase_counts_indexed

    texts = {
        0: "big data small data big table",
        1: "large data big data data data",
        2: "big big data large table",
        3: "nothing relevant here",
    }

    def ref(slots):
        out = {}
        for d, t in texts.items():
            toks = py_tokenize(t)
            n = sum(
                1
                for i in range(len(toks) - len(slots) + 1)
                if all(toks[i + j] in alts for j, alts in enumerate(slots))
            )
            if n:
                out[d] = n
        return out

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    index_dir = str(tmp_path_factory.mktemp("index_mphrase"))
    build_index(docs, index_dir, n_partitions=2, with_positions=True)
    for slots in (
        [["big", "large"], ["data"]],
        [["big", "large"], ["data", "table"]],
        [["big"], ["big", "data"], ["data"]],   # slot shares a term
        [["data"], ["data"]],                   # repeated-alt phrase
        [["small", "large"], ["nothing"]],      # absent phrase
    ):
        expected = ref(slots)
        got = {
            r.doc_id: r.n_phrase
            for r in multi_phrase_counts_indexed(spark, index_dir, slots).collect()
        }
        assert got == expected, (slots, got, expected)


def test_proximity_counts_match_reference(spark, tmp_path_factory):
    """Range-join proximity (|p2-p1| <= window, p1 != p2) on both paths
    equals a brute-force pair count, incl. first == second (self-pairs
    at distinct positions count twice: (p1,p2) and (p2,p1))."""
    from ocaml_lucene_spark.functions.analysis import py_tokenize
    from ocaml_lucene_spark.query.bm25 import proximity_counts
    from ocaml_lucene_spark.query.exec import proximity_counts_indexed

    texts = {
        0: "alpha x x beta alpha beta",
        1: "alpha x x x x x x beta",
        2: "beta beta alpha",
        3: "gamma only here",
        4: "alpha alpha alpha",
    }

    def ref(first, second, window):
        out = {}
        for d, t in texts.items():
            toks = py_tokenize(t)
            p1s = [i for i, w in enumerate(toks) if w == first]
            p2s = [i for i, w in enumerate(toks) if w == second]
            n = sum(
                1
                for p1 in p1s
                for p2 in p2s
                if p1 != p2 and abs(p2 - p1) <= window
            )
            if n:
                out[d] = n
        return out

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    index_dir = str(tmp_path_factory.mktemp("index_prox"))
    build_index(docs, index_dir, n_partitions=2, with_positions=True)
    for first, second, window in (
        ("alpha", "beta", 3),
        ("alpha", "beta", 1),
        ("beta", "alpha", 3),
        ("alpha", "alpha", 2),  # self-proximity
        ("alpha", "gamma", 10),  # never co-occur
    ):
        expected = ref(first, second, window)
        got_l = {
            r.doc_id: r.n_pairs
            for r in proximity_counts(docs, first, second, window).collect()
        }
        got_i = {
            r.doc_id: r.n_pairs
            for r in proximity_counts_indexed(
                spark, index_dir, first, second, window
            ).collect()
        }
        assert got_l == expected, (first, second, window, got_l, expected)
        assert got_i == expected, (first, second, window, got_i, expected)


def test_highlight_topk_matches_offsets_oracle(spark, tmp_path_factory):
    """highlight_topk = auto-routed top-k x .pay occurrences: for each
    of the k oracle-top docs, every query-term occurrence appears with
    the pure-Python tokenizer's char start offset."""
    from ocaml_lucene_spark.functions.analysis import py_tokenize_with_offsets
    from ocaml_lucene_spark.query.exec import highlight_topk

    texts = {
        0: "needle in a stack of hay and another needle",
        1: "hay hay hay needle",
        2: "nothing relevant here at all",
        3: "needle needle needle needle",
        4: "a single needle among much much longer text " + "filler " * 30,
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    index_dir = str(tmp_path_factory.mktemp("index_hl"))
    build_index(docs, index_dir, n_partitions=2, with_offsets=True)
    oracle = OracleIndex.from_texts(texts)
    k = 3
    top = oracle.query(["needle", "hay"], "or", k)
    expected = set()
    for d, s in top:
        toks, offs = py_tokenize_with_offsets(texts[d])
        for p, (t, o) in enumerate(zip(toks, offs)):
            if t in ("needle", "hay"):
                expected.add((d, round(s, 4), t, p, o))
    got = {
        (r.doc_id, r.score, r.term, r.pos, r.start)
        for r in highlight_topk(
            spark, index_dir, ["needle", "hay"], k=k, round_to=4
        ).collect()
    }
    assert got == expected, (sorted(got)[:5], sorted(expected)[:5])


def test_term_offsets_needs_an_offsets_build(spark, pos_index):
    """A positions-only index has no .pay stream: term_offsets raises
    instead of returning nothing."""
    from ocaml_lucene_spark.query.exec import term_offsets

    index_dir, oracle = pos_index
    term = sorted(oracle.positions)[0]
    with pytest.raises(Exception, match="ValueError: index was built without offsets"):
        term_offsets(spark, index_dir, term).collect()


def test_positional_index_still_scores(spark, pos_index):
    index_dir, oracle = pos_index
    got = [(r.doc_id, r.score) for r in bm25_topk_indexed(spark, index_dir, ["the"], "or", 5).collect()]
    exp = oracle.query(["the"], "or", 5)
    assert [d for d, _ in got] == [d for d, _ in exp]


def test_offsets_match_pure_python(spark, tiny_corpus, tmp_path_factory):
    """with_offsets build: the packed .pay-analogue stream reproduces
    the pure-Python offsets tokenizer exactly (every occurrence's token
    position AND char start offset)."""
    from ocaml_lucene_spark.functions.analysis import py_tokenize_with_offsets
    from ocaml_lucene_spark.index.build import assign_doc_ids, build_index
    from ocaml_lucene_spark.index.segments import read_stats
    from ocaml_lucene_spark.query.exec import term_offsets

    index_dir = str(tmp_path_factory.mktemp("index_off"))
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text").cache()
    build_index(docs, index_dir, n_partitions=4, with_offsets=True)
    assert read_stats(index_dir, "seg000001")["index_options"] == (
        "DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS"
    )
    texts = {r.doc_id: r.text for r in docs.collect()}
    oracle = OracleIndex.from_texts(texts)
    stats = oracle.term_stats()
    probe = ["the"] + sorted(stats, key=lambda t: -stats[t][0])[5:7]
    for term in probe:
        expected = set()
        for did, text in texts.items():
            toks, offs = py_tokenize_with_offsets(text)
            for p, (t, o) in enumerate(zip(toks, offs)):
                if t == term:
                    expected.add((did, p, o))
        got = {
            (r.doc_id, r.pos, r.start)
            for r in term_offsets(spark, index_dir, term).collect()
        }
        assert got == expected and got, term
    # the offsets index still answers BM25 and phrase queries identically
    got = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, index_dir, ["the", "and"], "or", 5).collect()
    ]
    exp = oracle.query(["the", "and"], "or", 5)
    assert [d for d, _ in got] == [d for d, _ in exp]


def test_bm25_topk_phrase_scored_vs_reference(spark, pos_index, tiny_corpus):
    """PhraseQuery scoring: engine result == brute-force reference
    (sliding-window phrase tf, summed distinct-term idfs, BM25)."""
    import math

    from ocaml_lucene_spark.query.exec import bm25_topk_phrase

    index_dir, oracle = pos_index
    texts = {
        r.doc_id: r.text
        for r in assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text").collect()
    }
    words = None
    # pick a 2-word phrase that actually occurs somewhere
    from ocaml_lucene_spark.functions.analysis import py_tokenize

    toks_by_doc = {d: py_tokenize(t) for d, t in texts.items()}
    from collections import Counter

    big = Counter()
    for toks in toks_by_doc.values():
        big.update(zip(toks, toks[1:]))
    (w1, w2), _ = big.most_common(1)[0]
    words = [w1, w2]

    n = oracle.n_docs
    avgdl = oracle.avgdl
    stats = oracle.term_stats()
    w = sum(
        math.log(1.0 + (n - stats[t][0] + 0.5) / (stats[t][0] + 0.5))
        for t in dict.fromkeys(words)
    )
    expect = {}
    for d, toks in toks_by_doc.items():
        tf = sum(
            1
            for i in range(len(toks) - 1)
            if toks[i] == w1 and toks[i + 1] == w2
        )
        if tf:
            dl = len(toks)
            expect[d] = round(
                w * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4
            )
    top = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [
        (r.doc_id, r.score)
        for r in bm25_topk_phrase(spark, index_dir, words, k=10, round_to=4).collect()
    ]
    assert got == [(d, s) for d, s in top] and got


def _doc_tokens(oracle):
    """doc_id -> token list, reconstructed from the oracle's positional
    postings (OracleIndex keeps positions, not raw token arrays)."""
    toks = {d: [None] * n for d, n in oracle.doc_lens.items()}
    for t, docs in oracle.positions.items():
        for d, ps in docs.items():
            for pos in ps:
                toks[d][pos] = t
    return toks


def _common_pair(oracle):
    """Two distinct high-df terms (guaranteed co-occurrence)."""
    by_df = sorted(oracle.postings, key=lambda t: (-len(oracle.postings[t]), t))
    return by_df[0], by_df[1]


def test_span_near_unordered_is_sum_of_both_directions(spark, pos_index):
    # the symmetric band 0 < |p2-p1| <= slop+1 partitions exactly into
    # the two directional bands, so per doc:
    # unordered(a,b) = ordered(a,b) + ordered(b,a)
    from ocaml_lucene_spark.query.exec import (
        span_near_ordered_indexed,
        span_near_unordered_indexed,
    )

    index_dir, oracle = pos_index
    a, b = _common_pair(oracle)
    un = {r.doc_id: r.n_pairs for r in span_near_unordered_indexed(spark, index_dir, a, b, slop=3).collect()}
    fwd = {r.doc_id: r.n_pairs for r in span_near_ordered_indexed(spark, index_dir, a, b, slop=3).collect()}
    rev = {r.doc_id: r.n_pairs for r in span_near_ordered_indexed(spark, index_dir, b, a, slop=3).collect()}
    assert un, "test needs at least one co-occurring pair"
    for d in set(fwd) | set(rev):
        assert un.get(d, 0) == fwd.get(d, 0) + rev.get(d, 0)
    assert set(un) == set(fwd) | set(rev)


def test_span_not_zero_band_keeps_every_include_span(spark, pos_index):
    # pre=post=0 excludes only exact overlap, impossible for two
    # DISTINCT single terms -> n_spans == tf(include) per doc
    from ocaml_lucene_spark.query.exec import span_not_indexed

    index_dir, oracle = pos_index
    a, b = _common_pair(oracle)
    got = {r.doc_id: r.n_spans for r in span_not_indexed(spark, index_dir, a, b, pre=0, post=0).collect()}
    want = {
        d: toks.count(a) for d, toks in _doc_tokens(oracle).items() if a in toks
    }
    assert got == want


def test_span_not_wide_band_removes_cooccurring_docs(spark, pos_index):
    # a band wider than any doc length removes every include span in
    # docs that contain the exclude term at all
    from ocaml_lucene_spark.query.exec import span_not_indexed

    index_dir, oracle = pos_index
    a, b = _common_pair(oracle)
    big = max(len(t) for t in _doc_tokens(oracle).values()) + 1
    got = {r.doc_id: r.n_spans for r in span_not_indexed(spark, index_dir, a, b, pre=big, post=big).collect()}
    want = {
        d: toks.count(a)
        for d, toks in _doc_tokens(oracle).items()
        if a in toks and b not in toks
    }
    assert got == want


def test_span_or_first_union_of_single_term_span_first(spark, pos_index):
    # the union's window hits per doc = sum over clause terms of that
    # term's early-window positions; first_pos = min of the clauses
    from ocaml_lucene_spark.query.exec import span_or_first_indexed

    index_dir, oracle = pos_index
    a, b = _common_pair(oracle)
    end = 12
    got = {
        r.doc_id: (r.n_spans, r.first_pos)
        for r in span_or_first_indexed(spark, index_dir, [a, b], end).collect()
    }
    want = {}
    for d, toks in _doc_tokens(oracle).items():
        ps = [i for i, t in enumerate(toks[:end]) if t in (a, b)]
        if ps:
            want[d] = (len(ps), min(ps))
    assert got == want


def test_phrase_prefix_exact_term_prefix_equals_phrase_counts(spark, pos_index):
    # when the prefix has exactly one dictionary expansion, the
    # match_phrase_prefix collapses to the plain two-term phrase count
    from ocaml_lucene_spark.query.exec import phrase_prefix_counts_indexed
    from ocaml_lucene_spark.query.term_index import prefix_stats_mem

    index_dir, oracle = pos_index
    a, b = _common_pair(oracle)
    # find a prefix of b matching ONLY b in the dictionary
    prefix = None
    for i in range(1, len(b) + 1):
        if sorted(prefix_stats_mem(index_dir, b[:i])) == [b]:
            prefix = b[:i]
            break
    if prefix is None:
        pytest.skip("no unique prefix for the chosen term in this corpus")
    got = {r.doc_id: r.n_matches for r in phrase_prefix_counts_indexed(spark, index_dir, a, prefix).collect()}
    want = {r.doc_id: r.n_phrase for r in phrase_counts_indexed(spark, index_dir, a, b).collect()}
    assert got == want


def test_span_containing_and_within_python_reference(spark, pos_index):
    from ocaml_lucene_spark.query.exec import (
        span_containing_indexed,
        span_within_indexed,
    )

    index_dir, oracle = pos_index
    a, b = _common_pair(oracle)
    toks = _doc_tokens(oracle)
    # inner = the most frequent term overall (best containment odds)
    from collections import Counter

    inner = Counter(t for ts in toks.values() for t in ts).most_common(1)[0][0]
    slop = 3
    want_contain, want_within = {}, {}
    for d, ts in toks.items():
        p1s = [i for i, t in enumerate(ts) if t == a]
        p2s = [i for i, t in enumerate(ts) if t == b]
        pis = [i for i, t in enumerate(ts) if t == inner]
        big = [
            (x, y) for x in p1s for y in p2s if 0 < y - x <= slop + 1
        ]
        contain = {(x, y) for (x, y) in big if any(x <= p <= y for p in pis)}
        within = {p for p in pis if any(x <= p <= y for (x, y) in big)}
        if contain:
            want_contain[d] = len(contain)
        if within:
            want_within[d] = (len(within), min(within))
    got_c = {
        r.doc_id: r.n_spans
        for r in span_containing_indexed(spark, index_dir, a, b, inner, slop).collect()
    }
    got_w = {
        r.doc_id: (r.n_spans, r.first_pos)
        for r in span_within_indexed(spark, index_dir, inner, a, b, slop).collect()
    }
    assert got_c == want_contain
    assert got_w == want_within
    assert want_contain, "corpus must exercise containment"


def test_span_multi_reduces_to_span_near_on_singleton_expansion(spark, pos_index):
    """A prefix expanding to exactly one dictionary term must make
    SpanMultiTermQueryWrapper(near) identical to the plain ordered
    SpanNear on that term; and a multi-term expansion must equal the
    union of the per-term ordered nears (counts add — the legs'
    position sets are disjoint across distinct terms)."""
    from pyspark.sql import functions as F

    from ocaml_lucene_spark.query.exec import (
        span_multi_near_indexed,
        span_near_ordered_indexed,
    )
    from ocaml_lucene_spark.query.term_index import prefix_stats_mem

    index_dir, oracle = pos_index
    vocab = sorted(oracle.positions)
    second = max(vocab, key=lambda t: sum(len(v) for v in oracle.positions[t].values()))
    # find a prefix with exactly one expansion and one with several
    singleton, multi = None, None
    for t in vocab:
        for plen in range(2, len(t) + 1):
            pfx = t[:plen]
            exp = sorted(prefix_stats_mem(index_dir, pfx))
            if len(exp) == 1 and singleton is None:
                singleton = pfx
            if len(exp) > 1 and multi is None:
                # the engine caps at 50 lexicographic — mirror it
                multi = (pfx, exp[:50])
        if singleton and multi:
            break
    assert singleton and multi

    got = {
        r.doc_id: r.n_pairs
        for r in span_multi_near_indexed(
            spark, index_dir, singleton, second, slop=3
        ).collect()
    }
    exp_term = sorted(prefix_stats_mem(index_dir, singleton))[0]
    want = {
        r.doc_id: r.n_pairs
        for r in span_near_ordered_indexed(
            spark, index_dir, exp_term, second, slop=3
        ).collect()
    }
    assert got == want

    pfx, exp = multi
    got_m = {
        r.doc_id: r.n_pairs
        for r in span_multi_near_indexed(spark, index_dir, pfx, second, slop=3).collect()
    }
    want_m: dict[int, int] = {}
    for t in exp:
        for r in span_near_ordered_indexed(spark, index_dir, t, second, slop=3).collect():
            want_m[r.doc_id] = want_m.get(r.doc_id, 0) + r.n_pairs
    assert got_m == want_m
