"""Spark jobs per BM25 query, counted per job group.

Every plan reads df from the in-memory term dictionaries and the doc
span from parquet footers, so planning runs no df job: a query that
provably has no result starts no Spark job before collect(). The WAND
plan is one job: each range task reads its own blocks with pyarrow, so
there is no postings scan to plan, no shuffle and no second stage,
whatever the range count and however new the segment set. The indexed
plan still scans through Spark and infers the postings' parquet schema
once per segment set. The write path (build, add, merge) is pinned the
same way, and so are the Python-UDF stages of each write and of one
query per BM25 plan."""

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


def test_wand_routed_query_runs_one_job(spark, indexed):
    index_dir, oracle, hot, mid = indexed
    decision: dict = {}
    rows, planned, total = _count_jobs(
        spark,
        lambda: qx.bm25_topk_auto(spark, index_dir, [hot, mid], "or", 10, decision=decision),
    )
    assert decision["plan"] == "wand"
    assert [d for d, _ in rows] == [d for d, _ in oracle.query([hot, mid], "or", 10)]
    assert planned == 0 and total == 1, (planned, total)


def test_parallel_wand_runs_one_job(spark, indexed):
    index_dir, oracle, hot, mid = indexed
    rows, planned, total = _count_jobs(
        spark,
        lambda: qx.bm25_topk_wand_parallel(
            spark, index_dir, [hot, mid], "or", 10, n_tasks=4
        ),
    )
    assert [d for d, _ in rows] == [d for d, _ in oracle.query([hot, mid], "or", 10)]
    assert planned == 0 and total == 1, (planned, total)


def test_wand_first_query_after_segment_set_change_runs_one_job(
    spark, indexed, tmp_path_factory
):
    """A new segment costs the WAND plan no schema or listing job: the
    first query over the grown index is still one job, and scores with
    the new segment's stats and blocks."""
    import shutil

    from ocaml_lucene_spark.index.build import add_documents
    from ocaml_lucene_spark.sources.corpus import generate_corpus

    index_dir = str(tmp_path_factory.mktemp("index_jobs_grow") / "idx")
    shutil.copytree(indexed[0], index_dir)
    _, _, hot, mid = indexed
    before = qx.bm25_topk_wand_exec(spark, index_dir, [hot, mid], "or", 10).collect()
    extra = generate_corpus(str(tmp_path_factory.mktemp("grow")), n_docs=200, seed=44)
    add_documents(spark.read.parquet(extra), index_dir, n_partitions=2)
    got = []
    for plan in (
        lambda: qx.bm25_topk_wand_exec(spark, index_dir, [hot, mid], "or", 10),
        lambda: qx.bm25_topk_wand_parallel(spark, index_dir, [hot, mid], "or", 10, n_tasks=4),
    ):
        rows, planned, total = _count_jobs(spark, plan)
        assert planned == 0 and total == 1, (planned, total)
        got.append(rows)
    expect = [
        (r.doc_id, r.score)
        for r in qx.bm25_topk_indexed(spark, index_dir, [hot, mid], "or", 10).collect()
    ]
    assert expect != [(r.doc_id, r.score) for r in before]
    assert got == [expect, expect]


def test_postings_schema_is_inferred_once_per_segment_set(spark, indexed):
    index_dir, oracle, hot, mid = indexed

    def run():
        return _count_jobs(
            spark, lambda: qx.bm25_topk_indexed(spark, index_dir, [hot, mid], "or", 10)
        )

    run()
    rows, planned, total = run()
    assert [d for d, _ in rows] == [d for d, _ in oracle.query([hot, mid], "or", 10)]
    assert planned == 0 and total <= 2, (planned, total)


def test_parallel_wand_total_blocks_counts_block_range_intersections(spark, indexed):
    """Each range task reads exactly the blocks its doc range
    intersects: total_blocks over 4 ranges equals the (block, range)
    intersections counted from the postings table itself."""
    from ocaml_lucene_spark.index import segments as seg

    index_dir, oracle, hot, mid = indexed
    metrics: dict = {}
    rows = qx.bm25_topk_wand_parallel(
        spark, index_dir, [hot, mid], "or", 10, n_tasks=4, metrics=metrics
    ).collect()
    qx.wand_metrics_value(metrics)
    assert [r.doc_id for r in rows] == [d for d, _ in oracle.query([hot, mid], "or", 10)]

    lo, hi = seg.doc_bounds(index_dir)
    width = -(-(hi - lo + 1) // 4)
    blocks = (
        spark.read.parquet(*qx.live_segment_paths(index_dir))
        .select("term", "first_doc", "last_doc")
        .toPandas()
    )
    blocks = blocks[blocks["term"].isin([hot, mid])]
    expect = sum(
        int(((blocks["first_doc"] <= r_lo + width - 1) & (blocks["last_doc"] >= r_lo)).sum())
        for r_lo in (lo + rid * width for rid in range(4))
    )
    assert expect > len(blocks) > 0  # some block spans two ranges
    assert metrics["total_blocks"] == expect, (metrics, expect)


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


# ---------------------------------------------------------------- writes

# Jobs per write call on the fixtures below (800-doc build, 300-doc
# add, merges of every live segment), as measured: upper bounds, so a
# change that adds a driver action to the write path fails here. The
# terms table comes from the pack job (no postings re-read); a write of
# at most salt_df_threshold docs runs no hot-term sample; merge reads
# the blocks and norms with their known schemas (no footer inference);
# and a purging merge anti-joins its norms with a JVM-built deleted-id
# frame (one broadcast job each for the purged-id collect and the norms
# write) and takes n_docs/sum_dl from the norms write's Observation.
MAX_WRITE_JOBS = {"build": 5, "add": 12, "merge": 3, "merge_deletes": 6}

# Python-UDF plan nodes per call, summed over the executed plans of the
# SQL executions the call ran: upper bounds. A write's one Python stage
# is the pack kernel (doc ids are numbered in the JVM, and merge decodes
# the shuffled blocks inside the pack task); a query's is its block
# decode or WAND task, and the logical plan runs none.
MAX_PYTHON_STAGES = {
    "build": 1, "add": 1, "merge": 1, "merge_deletes": 1,
    "wand": 1, "parallel": 1, "indexed": 1, "logical": 0,
}
_PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas",
)


def _jobs(spark, fn):
    """(fn(), jobs started while it ran, Python-UDF nodes in the
    executed plans of the SQL executions those jobs belong to)."""
    sc = spark.sparkContext
    group = f"write-jobs-{next(_groups)}"
    bus = sc._jsc.sc().listenerBus()
    sc.setJobGroup(group, group)
    try:
        out = fn()
        bus.waitUntilEmpty()
        jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = spark._jsparkSession.sharedState().statusStore()
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    python_nodes = 0
    for e in as_java(store.executionsList()):
        if jobs & {int(j) for j in as_java(e.jobs().keySet())}:
            nodes = as_java(store.planGraph(e.executionId()).allNodes())
            python_nodes += sum(n.name() in _PYTHON_NODES for n in nodes)
    return out, len(jobs), python_nodes


@pytest.fixture(scope="module")
def write_path(spark, tiny_corpus, tmp_path_factory):
    """{call: (jobs, Python-UDF nodes)} for a build, an add, a merge and
    a purging merge, in that order on one index."""
    from ocaml_lucene_spark.index import segments as seg
    from ocaml_lucene_spark.index.build import add_documents
    from ocaml_lucene_spark.index.deletes import delete_docs
    from ocaml_lucene_spark.index.merge import merge_segments
    from ocaml_lucene_spark.sources.corpus import generate_corpus

    index_dir = str(tmp_path_factory.mktemp("index_write_jobs"))
    extra = [
        spark.read.parquet(
            generate_corpus(str(tmp_path_factory.mktemp(f"add{i}")), n_docs=300, seed=43 + i)
        )
        for i in range(2)
    ]
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text").cache()
    docs.count()
    counts = {}

    def merge_all():
        live = [r["segment"] for r in seg.list_segments(index_dir)]
        return merge_segments(spark, index_dir, live, n_partitions=4)

    def record(name, fn):
        out, *counts[name] = _jobs(spark, fn)
        return out

    record("build", lambda: build_index(docs, index_dir, n_partitions=4))
    record("add", lambda: add_documents(extra[0], index_dir, n_partitions=4))
    record("merge", merge_all)
    add_documents(extra[1], index_dir, n_partitions=4)
    delete_docs(index_dir, range(0, 1400, 97))
    m = record("merge_deletes", merge_all)
    docs.unpersist()
    assert m["n_docs"] == 1400 - len(range(0, 1400, 97))
    return counts


def test_write_path_job_counts(write_path):
    jobs = {k: v[0] for k, v in write_path.items()}
    assert all(jobs[k] <= MAX_WRITE_JOBS[k] for k in jobs), (jobs, MAX_WRITE_JOBS)


def test_write_path_runs_one_python_stage(write_path):
    stages = {k: v[1] for k, v in write_path.items()}
    assert all(stages[k] <= MAX_PYTHON_STAGES[k] for k in stages), (stages, MAX_PYTHON_STAGES)


@pytest.mark.parametrize("plan", ["wand", "parallel", "indexed", "logical"])
def test_bm25_plan_python_stage_counts(spark, indexed, tiny_corpus, plan):
    from ocaml_lucene_spark.query.bm25 import bm25_topk

    index_dir, oracle, hot, mid = indexed
    run = {
        "wand": lambda: qx.bm25_topk_wand_exec(spark, index_dir, [hot, mid], "or", 10),
        "parallel": lambda: qx.bm25_topk_wand_parallel(
            spark, index_dir, [hot, mid], "or", 10, n_tasks=4
        ),
        "indexed": lambda: qx.bm25_topk_indexed(spark, index_dir, [hot, mid], "or", 10),
        "logical": lambda: bm25_topk(
            assign_doc_ids(spark.read.parquet(tiny_corpus)), [hot, mid], "or", 10
        ),
    }[plan]
    rows, _, stages = _jobs(spark, lambda: [(r.doc_id, r.score) for r in run().collect()])
    assert [d for d, _ in rows] == [d for d, _ in oracle.query([hot, mid], "or", 10)]
    assert stages <= MAX_PYTHON_STAGES[plan], (plan, stages)
