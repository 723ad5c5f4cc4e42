"""Spark jobs per BM25 query, counted per job group.

Every plan reads df from the in-memory term dictionaries and the doc
span from parquet footers, so planning runs no df job: a query that
provably has no result starts no Spark job before collect(), and a
wand-routed query runs only its postings scan's jobs — three on this
index, where the terms-parquet df lookup it replaced cost three more,
and two once the postings' parquet schema is known for the live
segment set."""

import itertools

import pytest

from ocaml_lucene_spark.index.build import assign_doc_ids, build_index
from ocaml_lucene_spark.oracle import OracleIndex
from ocaml_lucene_spark.query import exec as qx

_groups = itertools.count()


@pytest.fixture(scope="module")
def indexed(spark, tiny_corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index_jobs"))
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text")
    build_index(docs, index_dir, n_partitions=4)
    oracle = OracleIndex.from_texts({r.doc_id: r.text for r in docs.collect()})
    by_df = sorted(oracle.term_stats().items(), key=lambda kv: (-kv[1][0], kv[0]))
    return index_dir, oracle, by_df[0][0], by_df[len(by_df) // 20][0]


def _count_jobs(spark, make_df):
    """(rows, jobs started while building the DataFrame, jobs in all)."""
    sc = spark.sparkContext
    group = f"plan-jobs-{next(_groups)}"
    bus = sc._jsc.sc().listenerBus()
    sc.setJobGroup(group, group)
    try:
        df = make_df()
        bus.waitUntilEmpty()
        planned = len(sc.statusTracker().getJobIdsForGroup(group))
        rows = [(r.doc_id, r.score) for r in df.collect()]
        bus.waitUntilEmpty()
        total = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, planned, total


def test_wand_routed_query_runs_three_jobs(spark, indexed):
    index_dir, oracle, hot, mid = indexed
    decision: dict = {}
    rows, _, total = _count_jobs(
        spark,
        lambda: qx.bm25_topk_auto(spark, index_dir, [hot, mid], "or", 10, decision=decision),
    )
    assert decision["plan"] == "wand"
    assert [d for d, _ in rows] == [d for d, _ in oracle.query([hot, mid], "or", 10)]
    assert total <= 3, total


def test_postings_schema_is_inferred_once_per_segment_set(spark, indexed):
    index_dir, oracle, hot, mid = indexed

    def run():
        return _count_jobs(
            spark, lambda: qx.bm25_topk_wand_exec(spark, index_dir, [hot, mid], "or", 10)
        )

    run()
    rows, planned, total = run()
    assert [d for d, _ in rows] == [d for d, _ in oracle.query([hot, mid], "or", 10)]
    assert planned == 0 and total <= 2, (planned, total)


def test_indexed_plan_runs_no_df_job(spark, indexed):
    index_dir, oracle, hot, mid = indexed
    rows, planned, total = _count_jobs(
        spark, lambda: qx.bm25_topk_indexed(spark, index_dir, [hot, mid], "or", 10)
    )
    assert [d for d, _ in rows] == [d for d, _ in oracle.query([hot, mid], "or", 10)]
    assert planned <= 1 and total <= 3, (planned, total)


@pytest.mark.parametrize(
    "plan", ["auto", "wand", "parallel", "indexed"]
)
@pytest.mark.parametrize(
    "terms,mode", [(["zzz-absent"], "or"), (["zzz-absent", "HOT"], "and")]
)
def test_empty_result_starts_no_job_before_collect(spark, indexed, plan, terms, mode):
    index_dir, _, hot, _ = indexed
    terms = [hot if t == "HOT" else t for t in terms]
    fn = {
        "auto": qx.bm25_topk_auto,
        "wand": qx.bm25_topk_wand_exec,
        "parallel": qx.bm25_topk_wand_parallel,
        "indexed": qx.bm25_topk_indexed,
    }[plan]
    rows, planned, _ = _count_jobs(spark, lambda: fn(spark, index_dir, terms, mode, 10))
    assert rows == []
    assert planned == 0
