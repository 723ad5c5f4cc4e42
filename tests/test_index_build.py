"""End-to-end segment build + indexed query tests.

- build -> query (exhaustive + WAND) rank-identical vs pure-Python oracle
- WAND is safe-up-to-k AND actually prunes blocks
- hot-term salting splits posting lists without changing results
- resume: re-running the build skips completed partitions
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocaml_lucene_spark.index.build import assign_doc_ids, build_index
from ocaml_lucene_spark.oracle import OracleIndex
from ocaml_lucene_spark.query.exec import (
    bm25_topk_indexed,
    bm25_topk_wand_exec,
    wand_metrics_value,
)
from ocaml_lucene_spark.sources.corpus import generate_query_set


@pytest.fixture(scope="module")
def built(spark, tiny_corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index"))
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus))
    docs = docs.select("doc_id", "url", "text").cache()
    row = build_index(
        docs,
        index_dir,
        n_partitions=8,
        salt_df_threshold=300,  # low threshold: corpus hot terms get salted
        n_salts=4,
    )
    texts = {r.doc_id: r.text for r in docs.collect()}
    oracle = OracleIndex.from_texts(texts)
    return index_dir, row, oracle


QUERIES = None


def _queries():
    global QUERIES
    if QUERIES is None:
        QUERIES = generate_query_set(seed=42, n_queries=20)
    return QUERIES


def test_build_metrics(built):
    _, row, oracle = built
    assert row["status"] == "live"
    assert row["n_docs"] == oracle.n_docs
    assert row["n_postings"] == sum(df for df, _ in oracle.term_stats().values())
    assert row["docs_per_sec"] > 0
    assert row["n_partitions"] >= 1


def test_indexed_exhaustive_rank_identity(spark, built):
    index_dir, _, oracle = built
    for q in _queries():
        expected = oracle.query(q["terms"], q["mode"], q["k"])
        got = [
            (r.doc_id, r.score)
            for r in bm25_topk_indexed(spark, index_dir, q["terms"], q["mode"], q["k"]).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in expected], (q, got[:3], expected[:3])
        for (gd, gs), (_, es) in zip(got, expected):
            assert math.isclose(gs, es, rel_tol=1e-9), (q, gd, gs, es)


def _wand(spark, index_dir, terms, mode, k):
    """([(doc_id, score)], prune metrics) from the single-task WAND plan."""
    metrics: dict = {}
    df = bm25_topk_wand_exec(spark, index_dir, terms, mode, k, metrics=metrics)
    got = [(r.doc_id, r.score) for r in df.collect()]
    return got, wand_metrics_value(metrics)


def test_wand_rank_identity_and_prunes(spark, built):
    index_dir, _, oracle = built
    total_decoded = total_blocks = 0
    for q in _queries():
        expected = oracle.query(q["terms"], q["mode"], q["k"])
        got, metrics = _wand(spark, index_dir, q["terms"], q["mode"], q["k"])
        assert [d for d, _ in got] == [d for d, _ in expected], (q, got[:3], expected[:3])
        for (gd, gs), (_, es) in zip(got, expected):
            assert math.isclose(gs, es, rel_tol=1e-9), (q, gd, gs, es)
        total_decoded += metrics["decoded_blocks"]
        total_blocks += metrics["total_blocks"]
    # pruning evidence: across the query set some blocks were skipped
    assert total_decoded < total_blocks, (total_decoded, total_blocks)


def test_salting_split_hot_terms(spark, built, check_terms):
    index_dir, row, oracle = built
    from ocaml_lucene_spark.query.exec import _postings_df

    # the hottest term must appear as several salt shards (block_no>=100000)
    hot_term = max(oracle.term_stats().items(), key=lambda kv: kv[1][0])[0]
    rows = _postings_df(spark, index_dir, [hot_term]).select("block_no").collect()
    salts = {r.block_no // 100_000 for r in rows}
    assert len(salts) > 1, f"hot term {hot_term} not salted: {salts}"
    # and its terms row sums its shards
    assert check_terms(index_dir) == [row["segment"]]


def test_import_terms_table(spark, tiny_corpus, tmp_path_factory, check_terms):
    """build_index_from_postings, salted: terms equal its postings."""
    from ocaml_lucene_spark.functions.analysis import tokens_col
    from ocaml_lucene_spark.index.build import build_index_from_postings

    index_dir = str(tmp_path_factory.mktemp("index_import_terms"))
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text")
    postings = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    build_index_from_postings(
        postings, index_dir, n_partitions=4, salt_df_threshold=300, n_salts=4
    )
    check_terms(index_dir)


def test_resume_skips_completed_partitions(spark, tiny_corpus, tmp_path_factory, check_terms):
    index_dir = str(tmp_path_factory.mktemp("index_resume"))
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text")
    r1 = build_index(docs, index_dir, segment="seg1", n_partitions=4, salt_df_threshold=300)
    assert r1["resumed_partitions"] == 0
    # second run of the same segment: all partitions resume from checkpoint
    r2 = build_index(docs, index_dir, segment="seg1", n_partitions=4, salt_df_threshold=300)
    assert r2["resumed_partitions"] == r2["n_partitions"], r2
    # the resumed partitions still contribute every term
    check_terms(index_dir)
    # and the index still answers identically
    a = bm25_topk_indexed(spark, index_dir, ["the"], "or", 5).collect()
    assert len(a) > 0


def test_docid_assignment_deterministic(spark, tiny_corpus):
    d1 = {r.url: r.doc_id for r in assign_doc_ids(spark.read.parquet(tiny_corpus)).select("url", "doc_id").collect()}
    d2 = {r.url: r.doc_id for r in assign_doc_ids(spark.read.parquet(tiny_corpus)).select("url", "doc_id").collect()}
    assert d1 == d2
    assert sorted(d1.values()) == list(range(len(d1)))


def test_docid_assignment_input_partitioning_invariant(spark, tiny_corpus):
    """ids are a pure function of the URL SET: reshaping the input's
    physical partitioning (7-way round-robin vs single partition) must
    not move a single id — the repartition-by-url + input-derived
    partition count normalizes away everything upstream. (The
    cluster-size half of the invariant — same ids under local[4] via
    real spark-submit vs the in-process session — is pinned by
    tests/test_spark_submit.py.)"""
    base = spark.read.parquet(tiny_corpus)
    a = {r.url: r.doc_id for r in assign_doc_ids(base.repartition(7)).select("url", "doc_id").collect()}
    b = {r.url: r.doc_id for r in assign_doc_ids(base.coalesce(1)).select("url", "doc_id").collect()}
    assert a == b


def _enumerate_reference(docs):
    """The mapInArrow enumeration kernel assign_doc_ids used before it
    numbered ids in the JVM, kept as the reference: the same url hash
    partitions, sorted by url, numbered from each partition's offset."""
    from ocaml_lucene_spark.index.build import MAX_ID_PARTITIONS, URLS_PER_ID_PARTITION

    n = max(2, min(MAX_ID_PARTITIONS, 1 + docs.count() // URLS_PER_ID_PARTITION))
    parted = (
        docs.repartition(n, "url")
        .sortWithinPartitions("url")
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = dict(parted.groupBy("_pid").count().collect())
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid], acc = acc, acc + counts[pid]

    def enumerate_partition(batches):
        import pyarrow as pa

        rn = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            off = offsets[rb.column(rb.schema.get_field_index("_pid"))[0].as_py()]
            ids = pa.array(np.arange(off + rn, off + rn + rb.num_rows, dtype=np.int64))
            rn += rb.num_rows
            yield pa.RecordBatch.from_arrays([rb.column(0), ids], names=["url", "doc_id"])

    return parted.select("url", "_pid").mapInArrow(
        enumerate_partition, "url string, doc_id long"
    ), n


@pytest.mark.parametrize("n_docs", [300, 12_500])
def test_docid_numbering_equals_enumeration_kernel(spark, tmp_path_factory, n_docs):
    """assign_doc_ids numbers docs in the JVM; the ids equal the old
    Python enumeration kernel's, with more than two id partitions at
    12,500 docs, and doc_id stays nullable as the kernel declared it
    (the norms files record the schema's nullability)."""
    from ocaml_lucene_spark.sources.corpus import generate_corpus

    src = spark.read.parquet(
        generate_corpus(str(tmp_path_factory.mktemp(f"ids{n_docs}")), n_docs=n_docs, seed=12)
    ).select("url", "text")
    got = assign_doc_ids(src)
    assert got.schema["doc_id"].nullable
    want, n_parts = _enumerate_reference(src)
    assert n_parts == (3 if n_docs > 12_000 else 2)
    ids = dict(got.select("url", "doc_id").collect())
    assert ids == dict(want.collect())
    assert sorted(ids.values()) == list(range(n_docs))


def test_wand_exec_rank_identity(spark, built):
    """Executor-side WAND (one task per query, payloads never on the
    driver) matches the oracle exactly, incl. rounded tie-break."""
    from ocaml_lucene_spark.query.exec import bm25_topk_wand_exec, wand_metrics_value

    index_dir, _, oracle = built
    for q in _queries()[:10]:
        expected = oracle.query(q["terms"], q["mode"], q["k"])
        m = {}
        got = [
            (r.doc_id, r.score)
            for r in bm25_topk_wand_exec(
                spark, index_dir, q["terms"], q["mode"], q["k"], metrics=m
            ).collect()
        ]
        assert [d for d, _ in got] == [d for d, _ in expected], (q, got[:3], expected[:3])
        for (gd, gs), (_, es) in zip(got, expected):
            assert math.isclose(gs, es, rel_tol=1e-9), (q, gd, gs, es)
        wand_metrics_value(m)
        assert m["total_blocks"] >= m["decoded_blocks"]
    # absent-term edge cases return empty / partial like the oracle
    assert bm25_topk_wand_exec(spark, index_dir, ["zzznope"], "or", 5).count() == 0
    assert bm25_topk_wand_exec(spark, index_dir, ["the", "zzznope"], "and", 5).count() == 0


def test_contiguous_salting_prunes_blocks(spark, tiny_corpus, tmp_path_factory):
    """Doc-contiguous salt ranges keep each term's blocks doc-disjoint,
    so a rare+hot disjunction decodes a small fraction of the hot
    term's blocks (the round-1 hash salting decoded ~100%)."""
    from ocaml_lucene_spark.query.exec import build_posting_lists

    index_dir = str(tmp_path_factory.mktemp("index_prune"))
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text")
    build_index(docs, index_dir, n_partitions=8, salt_df_threshold=300, n_salts=4)
    texts = {r.doc_id: r.text for r in assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text").collect()}
    oracle = OracleIndex.from_texts(texts)
    # one posting list per term: contiguous salts -> doc-disjoint blocks
    from ocaml_lucene_spark.query.exec import _postings_df, global_stats

    hot_term = max(oracle.term_stats().items(), key=lambda kv: kv[1][0])[0]
    rows = _postings_df(spark, index_dir, [hot_term]).select(
        "term", "block_no", "first_doc", "last_doc", "max_tf", "min_dl",
        "doc_bytes", "tf_bytes", "dl_bytes",
    ).collect()
    stats = global_stats(index_dir)
    lists = build_posting_lists(rows, {hot_term: 1.0}, stats["avgdl"])
    assert len(lists) == 1, f"expected one list for {hot_term}, got {len(lists)}"

    # rare+hot disjunction where the rare docs cluster at the start of
    # the doc space: once theta locks in from needle docs, every later
    # hay block has ub << theta and must be skipped without decode
    idx2 = str(tmp_path_factory.mktemp("index_prune2"))
    texts2 = {
        d: ("needle hay" if d < 4 else f"hay filler{d % 50}")
        for d in range(2000)
    }
    sdocs = spark.createDataFrame(
        [(d, t) for d, t in texts2.items()], "doc_id long, text string"
    )
    build_index(sdocs, idx2, n_partitions=8, salt_df_threshold=300, n_salts=4)
    oracle2 = OracleIndex.from_texts(texts2)
    got, metrics = _wand(spark, idx2, ["needle", "hay"], "or", 3)
    expected = oracle2.query(["needle", "hay"], "or", 3)
    assert [d for d, _ in got] == [d for d, _ in expected]
    # hay has ~16 blocks; all but the needle-region ones must be skipped
    assert metrics["decoded_blocks"] <= metrics["total_blocks"] // 2, metrics


def test_not_clause_three_paths_agree(spark, built):
    """bm25 NOT clause: logical left_anti, indexed anti join, and WAND
    leapfrog exclusion all return the oracle's filtered top-k."""
    from ocaml_lucene_spark.query.bm25 import bm25_topk
    from ocaml_lucene_spark.query.exec import bm25_topk_wand_exec

    index_dir, _, oracle = built
    stats = oracle.term_stats()
    ranked = sorted(stats.items(), key=lambda kv: -kv[1][0])
    inc = [ranked[3][0], ranked[10][0]]
    exc = [ranked[6][0]]
    banned = set()
    for t in exc:
        banned |= set(oracle.postings.get(t, {}))
    full = oracle.query(inc, "or", oracle.n_docs)
    expected = [(d, s) for d, s in full if d not in banned][:10]
    assert expected, "test query produced no survivors; pick other terms"

    got_idx = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, index_dir, inc, "or", 10, exclude=exc).collect()
    ]
    got_wand = [
        (r.doc_id, r.score)
        for r in bm25_topk_wand_exec(spark, index_dir, inc, "or", 10, exclude=exc).collect()
    ]
    assert [d for d, _ in got_idx] == [d for d, _ in expected], (got_idx[:3], expected[:3])
    assert [d for d, _ in got_wand] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got_idx, expected):
        assert math.isclose(gs, es, rel_tol=1e-9), (gd, gs, es)
    for (gd, gs), (_, es) in zip(got_wand, expected):
        assert math.isclose(gs, es, rel_tol=1e-9), (gd, gs, es)


def test_and_prune_decode_is_driver_free(spark, built):
    """The conjunctive block-range prune collects only int64 doc ids
    (decoded executor-side); the single-column plan never carries the
    packed payload columns to the driver."""
    from ocaml_lucene_spark.query.exec import term_doc_ids_df

    index_dir, _, oracle = built
    some_term = sorted(oracle.postings)[0]
    df = term_doc_ids_df(spark, index_dir, [some_term])
    assert [f.name for f in df.schema.fields] == ["doc_id"]
    assert df.schema.fields[0].dataType.simpleString() == "bigint"
    got = sorted(r.doc_id for r in df.collect())
    assert got == sorted(oracle.postings[some_term])
    # the payload column feeds the executor-side decode only: it is
    # consumed under the mapInArrow boundary, not in the output plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "doc_bytes" not in plan.split("MapInArrow")[0]


def test_flat_positions_needs_a_positions_build(spark, built):
    """An index built without positions has no .pos stream to decode:
    the occurrence scan raises instead of returning nothing."""
    from ocaml_lucene_spark.query.exec import flat_positions_df

    index_dir, _, oracle = built
    term = sorted(oracle.postings)[0]
    with pytest.raises(Exception, match="ValueError: index was built without positions"):
        flat_positions_df(spark, index_dir, [term]).collect()


def test_bm25_auto_routing(spark, built):
    """bm25_topk_auto routes on sum-of-df from the in-memory FST term
    dictionary: hot term sets (over the threshold) go to the distributed
    exhaustive plan, small ones to the single-task WAND plan — and both
    routes return the oracle ranking."""
    from ocaml_lucene_spark.query.exec import bm25_topk_auto

    index_dir, _, oracle = built
    ranked = sorted(oracle.term_stats().items(), key=lambda kv: -kv[1][0])
    hot = [ranked[0][0], ranked[1][0]]
    rare = [ranked[-1][0]]

    # all terms hot -> pruning provably hopeless -> exhaustive scan
    dec: dict = {}
    got_hot = bm25_topk_auto(
        spark, index_dir, hot, "or", 10, wand_max_df_sum=10, decision=dec
    )
    assert dec["plan"] == "indexed" and dec["df_sum"] > 10, dec
    assert dec["min_df"] > 10, dec
    expected = oracle.query(hot, "or", 10)
    assert [r.doc_id for r in got_hot.collect()] == [d for d, _ in expected]

    # small total payload -> single-task WAND
    dec2: dict = {}
    got_rare = bm25_topk_auto(
        spark, index_dir, rare, "or", 10, wand_max_df_sum=10**9, decision=dec2
    )
    assert dec2["plan"] == "wand", dec2
    expected2 = oracle.query(rare, "or", 10)
    assert [r.doc_id for r in got_rare.collect()] == [d for d, _ in expected2]

    # over the payload threshold (exclude terms count toward it) but
    # with a selective scoring term -> doc-range-parallel WAND
    dec3: dict = {}
    got_mix = bm25_topk_auto(
        spark, index_dir, rare + [hot[0]], "or", 10, exclude=[hot[1]],
        wand_max_df_sum=10, decision=dec3,
    )
    assert dec3["plan"] == "parallel", dec3

    # an ABSENT term (df 0) is not selective: stopwords+typo must still
    # take the exhaustive plan, not a pruning plan at its floor
    dec4: dict = {}
    bm25_topk_auto(
        spark, index_dir, hot + ["zzzabsent"], "or", 10,
        wand_max_df_sum=10, decision=dec4,
    ).collect()
    assert dec4["plan"] == "indexed", dec4
    banned = set(oracle.postings.get(hot[1], {}))
    full = oracle.query(rare + [hot[0]], "or", oracle.n_docs)
    exp_mix = [(d, s) for d, s in full if d not in banned][:10]
    assert [r.doc_id for r in got_mix.collect()] == [d for d, _ in exp_mix]


def test_bool_query_three_paths_agree(spark, built):
    """BooleanQuery (must + should): logical, indexed, and WAND paths
    all return the oracle's must-filtered, must+should-scored top-k."""
    from ocaml_lucene_spark.query.bm25 import bm25_topk_bool
    from ocaml_lucene_spark.query.exec import bm25_topk_wand_exec
    from tests.test_wand_fuzz import oracle_query_bool

    index_dir, _, oracle = built
    ranked = sorted(oracle.term_stats().items(), key=lambda kv: -kv[1][0])
    must = [ranked[8][0]]
    should = [ranked[2][0], ranked[15][0]]
    expected = oracle_query_bool(oracle, must, should, 10)
    assert expected, "bool test query empty; pick other terms"
    # logical path needs raw docs: reconstruct from the oracle postings
    rows = [(d, " ".join(
        t for t, post in oracle.postings.items() for _ in range(post.get(d, 0))
    )) for d in oracle.doc_lens]
    # NOTE: reconstructing text from postings loses token ORDER but not
    # tf/dl, which is all BM25 uses — scores are identical
    docs_df = spark.createDataFrame(rows, "doc_id long, text string")
    got_l = [
        (r.doc_id, r.score)
        for r in bm25_topk_bool(docs_df, must, should, 10).collect()
    ]
    got_i = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(
            spark, index_dir, must + should, "or", 10, must=must
        ).collect()
    ]
    got_w = [
        (r.doc_id, r.score)
        for r in bm25_topk_wand_exec(
            spark, index_dir, must + should, "or", 10, must=must
        ).collect()
    ]
    for name, got in (("logical", got_l), ("indexed", got_i), ("wand", got_w)):
        assert [d for d, _ in got] == [d for d, _ in expected], (name, got[:3], expected[:3])
        for (_, gs), (_, es) in zip(got, expected):
            assert math.isclose(gs, es, rel_tol=1e-9), (name, gs, es)
    # absent must term -> empty on both physical paths
    assert bm25_topk_indexed(spark, index_dir, ["zzz", should[0]], "or", 5, must=["zzz"]).count() == 0
    assert bm25_topk_wand_exec(spark, index_dir, ["zzz", should[0]], "or", 5, must=["zzz"]).count() == 0


def test_wand_parallel_rank_identity(spark, built):
    """Doc-range-parallel WAND: exact top-k for OR / AND / NOT, for any
    task count (incl. more tasks than doc span slices)."""
    from ocaml_lucene_spark.query.exec import bm25_topk_wand_parallel

    index_dir, _, oracle = built
    ranked = sorted(oracle.term_stats().items(), key=lambda kv: -kv[1][0])
    hot = [ranked[0][0], ranked[1][0], ranked[5][0]]
    for n_tasks in (1, 3, 8):
        got = [
            (r.doc_id, r.score)
            for r in bm25_topk_wand_parallel(
                spark, index_dir, hot, "or", 10, n_tasks=n_tasks
            ).collect()
        ]
        expected = oracle.query(hot, "or", 10)
        assert [d for d, _ in got] == [d for d, _ in expected], (n_tasks, got[:3])
        for (_, gs), (_, es) in zip(got, expected):
            assert math.isclose(gs, es, rel_tol=1e-9)
    # AND + NOT through the parallel plan
    inc = [ranked[2][0], ranked[4][0]]
    exc = [ranked[9][0]]
    banned = set()
    for t in exc:
        banned |= set(oracle.postings.get(t, {}))
    full = oracle.query(inc, "or", oracle.n_docs)
    exp_not = [(d, s) for d, s in full if d not in banned][:10]
    got_not = [
        (r.doc_id, r.score)
        for r in bm25_topk_wand_parallel(
            spark, index_dir, inc, "or", 10, exclude=exc, n_tasks=4
        ).collect()
    ]
    assert [d for d, _ in got_not] == [d for d, _ in exp_not]
    exp_and = oracle.query(inc, "and", 10)
    got_and = [
        (r.doc_id, r.score)
        for r in bm25_topk_wand_parallel(
            spark, index_dir, inc, "and", 10, n_tasks=4
        ).collect()
    ]
    assert [d for d, _ in got_and] == [d for d, _ in exp_and]
    # absent-term edges
    from ocaml_lucene_spark.query.exec import bm25_topk_wand_parallel as p

    assert p(spark, index_dir, ["zzznope"], "or", 5).count() == 0
    assert p(spark, index_dir, [inc[0], "zzznope"], "and", 5).count() == 0


def test_not_clause_overlapping_exclude(spark, built):
    """terms ∩ exclude non-empty (round-2 ADVICE): all three paths must
    drop every doc containing the overlapping term — exclusion is a doc
    filter, independent of scoring."""
    from ocaml_lucene_spark.query.bm25 import bm25_topk
    from ocaml_lucene_spark.query.exec import bm25_topk_wand_exec

    index_dir, _, oracle = built
    ranked = sorted(oracle.term_stats().items(), key=lambda kv: -kv[1][0])
    inc = [ranked[3][0], ranked[10][0]]
    exc = [inc[1], ranked[6][0]]  # overlap: inc[1] both scored and excluded
    banned = set()
    for t in exc:
        banned |= set(oracle.postings.get(t, {}))
    full = oracle.query(inc, "or", oracle.n_docs)
    expected = [(d, s) for d, s in full if d not in banned][:10]
    assert expected, "test query produced no survivors; pick other terms"

    got_idx = [
        (r.doc_id, r.score)
        for r in bm25_topk_indexed(spark, index_dir, inc, "or", 10, exclude=exc).collect()
    ]
    got_wand = [
        (r.doc_id, r.score)
        for r in bm25_topk_wand_exec(spark, index_dir, inc, "or", 10, exclude=exc).collect()
    ]
    assert [d for d, _ in got_idx] == [d for d, _ in expected], (got_idx[:3], expected[:3])
    assert [d for d, _ in got_wand] == [d for d, _ in expected], (got_wand[:3], expected[:3])
    for (gd, gs), (_, es) in zip(got_wand, expected):
        assert math.isclose(gs, es, rel_tol=1e-9), (gd, gs, es)
    # and-mode with a required term excluded is provably empty on all paths
    assert bm25_topk_indexed(spark, index_dir, inc, "and", 10, exclude=[inc[0]]).count() == 0
    assert bm25_topk_wand_exec(spark, index_dir, inc, "and", 10, exclude=[inc[0]]).count() == 0
