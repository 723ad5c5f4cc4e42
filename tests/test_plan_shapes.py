"""Physical-plan shape regressions: the 100 TB design claims in
README ("Designing for 100 TB") as CI-checked assertions, not prose.

Each test captures .explain(mode="formatted") and asserts the
STRUCTURAL property that makes the operator scale: predicate pushdown
to the parquet scan, payload-column pruning, broadcast of the small
side, and the shuffle shape. A refactor that silently loses one of
these still passes every result-equality test — these are the tests
that catch it.
"""

import contextlib
import io
import re

import pytest

from ocaml_lucene_spark.index.build import assign_doc_ids, build_index


@pytest.fixture(scope="module")
def built(spark, tiny_corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index_plans"))
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text")
    build_index(docs, index_dir, n_partitions=4)
    return index_dir


@pytest.fixture(scope="module")
def built_offsets(spark, tiny_corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index_plans_off"))
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text")
    build_index(docs, index_dir, n_partitions=4, with_offsets=True)
    return index_dir


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _read_schema_cols(plan: str) -> set[str]:
    schema = re.search(r"ReadSchema: struct<(.*?)>", plan)
    assert schema, plan
    return {c.split(":")[0] for c in schema.group(1).split(",")}


def test_postings_scan_pushes_term_predicate(spark, built):
    """The term filter must reach the parquet scan (PushedFilters: In)
    — at 100 TB this is what turns a query into a few row groups
    instead of a full-index read (term-sorted shards make row-group
    min/max stats the zone maps)."""
    from ocaml_lucene_spark.query.exec import _postings_df

    plan = _plan(_postings_df(spark, built, ["zipf", "data"]))
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert pushed, plan
    assert "In(term" in pushed.group(1), pushed.group(1)


def test_filter_context_prunes_payload_columns(spark, built):
    """matching_docs_indexed reads ONLY (term, doc_bytes): the
    unscored filter path never pays for tf/dl/pos bytes."""
    from ocaml_lucene_spark.query.exec import matching_docs_indexed

    cols = _read_schema_cols(_plan(matching_docs_indexed(spark, built, must=["zipf"])))
    assert cols == {"term", "doc_bytes"}, cols


def test_not_clause_scan_prunes_payload_columns(spark, built):
    """term_doc_ids_df (the NOT-clause anti-join side) reads only the
    doc-id stream."""
    from ocaml_lucene_spark.query.exec import term_doc_ids_df

    cols = _read_schema_cols(_plan(term_doc_ids_df(spark, built, ["zipf"])))
    assert "tf_bytes" not in cols and "dl_bytes" not in cols, cols


def test_exhaustive_plan_never_reads_position_streams(spark, built_offsets):
    """bm25_topk_indexed on an offsets-bearing index must still prune
    pos_bytes/off_bytes at the scan — scoring never pays for the .pos
    and .pay analogues."""
    from ocaml_lucene_spark.query.exec import bm25_topk_indexed

    plan = _plan(bm25_topk_indexed(spark, built_offsets, ["zipf", "data"], "or", 10))
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",")}
        assert "pos_bytes" not in cols and "off_bytes" not in cols, cols


def test_wand_metadata_projection_prunes_payloads(spark, built):
    """A metadata-only select over the postings scan (skip metadata
    only) must not read the packed payload columns."""
    from ocaml_lucene_spark.query.exec import _postings_df

    df = _postings_df(spark, built, ["zipf"]).select(
        "term", "block_no", "first_doc", "last_doc", "max_tf", "min_dl"
    )
    cols = _read_schema_cols(_plan(df))
    assert "doc_bytes" not in cols and "tf_bytes" not in cols, cols


def test_highlight_broadcasts_the_topk_side(spark, built_offsets):
    """highlight_topk joins k rows against the offsets occurrence
    stream: the k-row side must broadcast — a sort-merge join here
    would shuffle every occurrence of the query terms."""
    from ocaml_lucene_spark.query.exec import highlight_topk

    plan = _plan(highlight_topk(spark, built_offsets, ["zipf", "data"], k=5))
    assert "BroadcastHashJoin" in plan, plan


def test_logical_bm25_broadcasts_term_stats(spark, tiny_corpus):
    """The logical plan's term->df join must broadcast the (tiny)
    per-term stats side, not shuffle the postings."""
    from ocaml_lucene_spark.query.bm25 import bm25_topk

    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text")
    plan = _plan(bm25_topk(docs, ["zipf", "data"], "or", 10))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_topk_is_take_ordered_not_global_sort(spark, built):
    """The k=10 collector must plan as TakeOrderedAndProject (partial
    per-partition top-k + merge), never a full Sort + Limit — a global
    sort of scores is a corpus-wide shuffle at 100 TB."""
    from ocaml_lucene_spark.query.exec import bm25_topk_indexed

    plan = _plan(bm25_topk_indexed(spark, built, ["zipf", "data"], "or", 10))
    assert "TakeOrderedAndProject" in plan, plan


def test_build_shuffle_shapes(spark, tiny_corpus):
    """The build's tf shuffle boundary (build.py): a PARTIAL
    HashAggregate collapses (doc,term) duplicates before its exchange,
    so both exchanges carry aggregated-posting volume, never raw
    tokens; the pack exchange is keyed on term; no range partitioning
    anywhere (repartitionByRange is banned for determinism —
    CLAUDE.md)."""
    from pyspark.sql import functions as F

    from ocaml_lucene_spark.functions.analysis import tokens_col

    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text")
    base = docs.select(
        "doc_id", tokens_col("text").alias("toks")
    ).withColumn("dl", F.size("toks").cast("long"))

    tf = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count("*").cast("long").alias("tf"))
        .repartition(4, "term")
        .sortWithinPartitions("term", "doc_id")
    )
    plan = _plan(tf)
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert exchanges and "term" in exchanges[-1], exchanges
    assert re.search(r"Functions \[1\]: \[partial_count", plan), plan
    assert "rangepartitioning" not in plan, plan


def test_facet_indexed_reads_only_docid_stream_and_facet_column(spark, built):
    """Indexed faceting must never touch text: the postings scan reads
    only (term, doc_bytes) and the source-table scan only
    (doc_id, facet) — at 100 TB the facet query cost is the match
    set's doc-id stream plus a 2-column dimension projection."""
    from ocaml_lucene_spark.query.grouping import facet_counts_indexed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(facet_counts_indexed(spark, built, docs, ["zipf"], "lang"))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    cols = [{c.split(":")[0] for c in s.split(",")} for s in schemas]
    assert {"term", "doc_bytes"} in cols, schemas          # postings: ids only
    assert {"doc_id", "lang"} in cols, schemas             # documents: pruned
    for s in cols:
        assert "text" not in s and "tf_bytes" not in s, schemas


def test_collapse_topk_shape(spark):
    """Field collapse: global top-k stays TakeOrderedAndProject (never
    a global sort), the collapse-key join reads a 2-column projection,
    and exactly ONE Window node ranks within groups."""
    from ocaml_lucene_spark.query.grouping import bm25_collapse_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bm25_collapse_topk(docs, ["zipf", "data"], "source", k=10))
    assert "TakeOrderedAndProject" in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    cols = [{c.split(":")[0] for c in s.split(",")} for s in schemas]
    assert {"doc_id", "source"} in cols, schemas
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_numeric_range_filter_pushes_to_documents_scan(spark):
    """IntPoint-analogue range filter: the n_chars predicate must reach
    the parquet scan (PushedFilters GreaterThanOrEqual/LessThanOrEqual)
    — at 100 TB row-group zone maps skip non-matching splits before
    tokenization ever runs."""
    from pyspark.sql import functions as F

    from ocaml_lucene_spark.query.bm25 import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        (F.col("n_chars") >= 80) & (F.col("n_chars") <= 300)
    )
    plan = _plan(bm25_topk(docs, ["zipf", "data"], "or", 10))
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(n_chars,80\)", plan), plan


def test_rescore_dense_stage_is_candidate_bounded(spark):
    """The rescore dense pass must semi-join the embeddings scan down
    to the BROADCAST candidate ids BEFORE computing cosine — a
    left-outer join of candidates against a full cosine frame cannot
    broadcast its preserved side, so without the semi-join the plan
    degrades to a full-corpus cosine at scale (docs/PLANS.md §8)."""
    from ocaml_lucene_spark.query.rescore import rescore_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [0.1] * 64
    plan = _plan(rescore_topk(docs, vecs, ["zipf", "data"], qv, n_first=20, k=5))
    assert "LeftSemi" in plan, plan
    assert "BroadcastExchange" in plan


def test_rrf_indexed_dense_leg_prunes_ivf_partitions(spark, tmp_path_factory):
    """rrf_fusion_topk_indexed's dense leg must read only the probed
    cells' partition directories of the persisted IVF layout
    (PartitionFilters on the cell column) — at 10^12 vectors the probe
    cost is n_probe/n_cells of the index, never a full scan."""
    import __spark_entry__ as entry
    from ocaml_lucene_spark.operators import ann
    from ocaml_lucene_spark.query.rescore import rrf_fusion_topk_indexed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [0.1] * 64
    cents = entry._ivf_kmeans_centroids("/root/testdata/sf0.001")
    idx = str(tmp_path_factory.mktemp("ivf_plan"))
    ann.build_ivf_index(vecs, idx, cents)
    plan = _plan(
        rrf_fusion_topk_indexed(
            docs, spark, idx, cents, ["zipf", "data"], qv, n_each=20, k=5, n_probe=2
        )
    )
    assert re.search(r"PartitionFilters: \[cell#\d+ IN \(", plan), plan


def test_contamination_broadcasts_the_benchmark_grams(spark):
    """ngram_contamination's join must BROADCAST the benchmark n-gram
    set (benchmarks are MBs; the corpus is the 100 TB side) — a
    shuffle join here would re-partition the whole corpus's exploded
    n-grams."""
    from ocaml_lucene_spark.operators.dedup import ngram_contamination
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    plan = _plan(ngram_contamination(docs, bench, n=4))
    assert "BroadcastExchange" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_pack_sequences_has_no_global_single_partition_window(spark):
    """pack_sequences' window must be partitioned by the range key —
    the naive global-ORDER-BY window plans a SinglePartition exchange
    that serializes the whole corpus through one task."""
    from ocaml_lucene_spark.operators.packing import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pack_sequences(docs, budget=512))
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_composite_agg_after_key_pushes_to_scan(spark):
    """composite_agg's lexicographic after-key predicate must reach
    the parquet scan as PushedFilters (row-group pruning over the
    bucket keyspace) and the scan must read ONLY the key columns —
    at 100 TB a page touches the pruned tail of the keyspace, never
    the text."""
    from ocaml_lucene_spark.query.grouping import composite_agg

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(composite_agg(docs, ("lang", "source"), ("de", "src15"), 10))
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert pushed, plan
    assert "GreaterThan(lang,de)" in pushed.group(1), pushed.group(1)
    assert _read_schema_cols(plan) == {"lang", "source"}


def test_percentiles_agg_reads_only_key_and_value(spark):
    """percentiles_agg must prune the scan to (key, value) — the
    text column never rides through the sort-based aggregate."""
    from ocaml_lucene_spark.query.grouping import percentiles_agg

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(percentiles_agg(docs))
    assert _read_schema_cols(plan) == {"lang", "n_chars"}


def test_boilerplate_coverage_has_no_cartesian(spark):
    """The frequent-gram join must stay an equi-join (broadcast or
    shuffled hash on gram) — a cartesian/BNL join here is the
    quadratic blowup the operator exists to avoid."""
    from ocaml_lucene_spark.operators.boilerplate import boilerplate_coverage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(boilerplate_coverage(docs, k=3, min_df=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extended_stats_is_one_partial_final_agg_no_window(spark):
    """extended_stats must be ONE groupBy with map-side partial
    aggregation (partial_count/partial_min... before the key
    exchange) and no window/sort — only |keys| rows may cross the
    shuffle; the scan reads just (key, value)."""
    from ocaml_lucene_spark.query.grouping import extended_stats

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(extended_stats(events))
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert _read_schema_cols(plan) == {"event_type", "value"}


def test_matrix_stats_single_global_agg_reads_two_columns(spark):
    """matrix_stats: one global partial+final aggregate; the scan
    reads ONLY (x_col, text) — a single row crosses the exchange."""
    from ocaml_lucene_spark.query.grouping import matrix_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(matrix_stats(docs, x_col="n_chars"))
    assert "Window" not in plan, plan
    assert _read_schema_cols(plan) == {"n_chars", "text"}


def test_moving_avg_window_is_key_partitioned(spark):
    """The moving-average window must partition by key AFTER the
    histogram aggregate — a SinglePartition window over the raw
    events would serialize the table through one task."""
    from ocaml_lucene_spark.query.grouping import date_histogram_moving_avg

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(date_histogram_moving_avg(events, window=3))
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_token_budget_select_windows_only_the_boundary_bucket(spark):
    """token_budget_select's phase-2 window must be partitioned by
    the bucket expression (the filtered boundary bucket), never a
    SinglePartition global window over the scored frame; the full
    buckets pass through as a plain filter union."""
    from pyspark.sql import functions as F

    from ocaml_lucene_spark.functions.textstats import quality_features
    from ocaml_lucene_spark.operators.selection import token_budget_select

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    scored = quality_features(docs).select(
        "doc_id", F.col("lexical_diversity").alias("score"), "n_tokens"
    )
    plan = _plan(token_budget_select(scored, budget=5000))
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_rare_terms_cut_is_take_ordered(spark):
    """rare_terms' capped ascending cut must plan as
    TakeOrderedAndProject, not a global Sort + Limit."""
    from ocaml_lucene_spark.query.grouping import rare_terms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(rare_terms(docs, max_doc_count=385, limit=100))
    assert "TakeOrderedAndProject" in plan, plan


def test_snippet_tokenize_is_candidate_bounded(spark):
    """snippet_topk must broadcast the k-row top-k into the tokenized
    scan (BroadcastHashJoin) — the window-counting self-join only ever
    sees the k result docs' tokens, never the corpus."""
    from ocaml_lucene_spark.query.highlight import snippet_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(snippet_topk(docs, ["table", "hash"], k=10, width=8))
    assert "BroadcastHashJoin" in plan, plan
    # (the one BroadcastNestedLoopJoin is bm25's 1-row corpus-stats
    # cross join — a broadcast by construction, present in every
    # logical bm25 plan)
    assert "CartesianProduct" not in plan


def test_combined_fields_single_dl_projection_no_cartesian(spark):
    """combined_fields computes every field's weighted dl in ONE
    projection (no per-field join) and broadcasts df/stats — the only
    non-broadcast join keys on doc_id."""
    from ocaml_lucene_spark.query.bm25 import bm25_topk_combined_fields

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(
        bm25_topk_combined_fields(docs, ["table", "src3"], {"text": 1.0, "source": 2.0})
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    # dl is one pass over (text, source): the scan never reads more
    assert _read_schema_cols(plan) <= {"doc_id", "text", "source"}


def test_weighted_avg_is_one_partial_final_agg_no_window(spark):
    """weighted_avg: the JSON weight extraction is a scan expression
    feeding ONE groupBy with map-side partial aggregation — no window,
    no second pass; the scan reads only (key, value, props)."""
    from ocaml_lucene_spark.query.grouping import weighted_avg

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(weighted_avg(events))
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final
    assert _read_schema_cols(plan) == {"event_type", "value", "props"}


def test_top_metrics_is_one_agg_not_a_window(spark):
    """top_metrics must be the max(struct) aggregate — a window
    row_number over the raw events would shuffle and sort the whole
    table; only |keys| rows may cross the exchange."""
    from ocaml_lucene_spark.query.grouping import top_metrics

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(top_metrics(events))
    assert "Window" not in plan, plan
    # struct max compiles to SortAggregate (structs aren't hash-
    # aggregable) — the property that matters is the PARTIAL stage
    # before the key exchange, so only |keys| rows shuffle
    assert "partial_max" in plan, plan
    assert _read_schema_cols(plan) == {"event_type", "ts", "event_id", "value"}


def test_bucket_pipeline_aggs_window_after_histogram(spark):
    """serial_diff's window partitions by key over the histogram
    output (never SinglePartition over raw events); bucket_sort's cut
    is a plain sort+limit over |buckets x keys| rows (TakeOrdered or
    a GlobalLimit — both fine at that cardinality), with the
    histogram groupBy underneath."""
    from ocaml_lucene_spark.query.grouping import bucket_sort, serial_diff

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(serial_diff(events, lag=7))
    assert "Window" in plan and "SinglePartition" not in plan, plan

    plan2 = _plan(bucket_sort(events, size=5, from_=2))
    assert "HashAggregate" in plan2, plan2
    assert "Window" not in plan2, plan2


def test_terms_shard_topk_broadcasts_shard_stats(spark):
    """terms_shard_topk: the |shards|-row stats table must broadcast
    into the candidate merge (no shuffle join against a 3-row side),
    and the final cut must be TakeOrdered-shaped, not a global sort."""
    from ocaml_lucene_spark.query.grouping import terms_shard_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(terms_shard_topk(docs))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_hll_register_fold_is_partial_final_no_window(spark):
    """hll_cardinality: both the (key, register) max and the per-key
    register fold must carry a PARTIAL stage (map-side combine — each
    executor ships <= m rows per key), with no window and no join
    wider than the key join against the exact baseline."""
    from pyspark.sql import functions as F

    from ocaml_lucene_spark.query.grouping import hll_cardinality

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_type", F.col("user_id").cast("string").alias("item")
    )
    plan = _plan(hll_cardinality(ev, item_col="item"))
    assert "Window" not in plan, plan
    assert "partial_max" in plan, plan
    assert "CartesianProduct" not in plan


def test_dsir_and_cross_doc_have_no_cartesian_or_window(spark):
    """The two-shuffle textstats shapes: explode -> keyed aggregate ->
    vocab join-back -> per-doc regroup. The only nested-loop join
    allowed is the one-row totals broadcast (dsir); no window, no
    cartesian product."""
    from ocaml_lucene_spark.functions.textstats import dsir_importance
    from ocaml_lucene_spark.operators.dedup import cross_doc_repetition

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (dsir_importance(docs), cross_doc_repetition(docs, n=3)):
        plan = _plan(df)
        assert "Window" not in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_diversified_sampler_window_is_dedup_key_partitioned(spark):
    """The per-key cap window partitions by the dedup key (one key
    shuffle, same as a groupBy) and the global cut is TakeOrdered —
    never a SinglePartition window or a full sort."""
    from ocaml_lucene_spark.query.grouping import diversified_sample_facets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(diversified_sample_facets(docs, ["table", "hash"]))
    # the cap window partitions by the dedup key (Spark also applies
    # the WindowGroupLimit pushdown for the rn <= cap filter); the one
    # SinglePartition exchange in the plan is bm25's 1-row corpus-
    # stats broadcast, so assert the window spec itself instead
    assert "windowspecdefinition(_dk" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_dup_spans_semi_join_and_doc_partitioned_window(spark):
    """dup_spans' join-back on the gram must be LEFT-SEMI (row-count
    preserving — a hot boilerplate gram must never multiply position
    rows) and the island window must partition by doc_id, never
    SinglePartition; no cartesian product anywhere."""
    from ocaml_lucene_spark.operators.dedup import dup_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(dup_spans(docs, n=5))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_stats_bucket_is_two_aggs_no_window(spark):
    """The sibling pipeline agg is histogram groupBy -> key regroup —
    two partial/final aggregate pairs, NO window (the argmin/argmax
    labels come from min-over-struct inside the aggregate, never a
    per-key sort) and no cartesian product."""
    from ocaml_lucene_spark.query.grouping import stats_bucket

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(stats_bucket(ev))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") == 4, plan  # 2 x (partial+final)


def test_frequent_item_sets_pairs_have_no_self_join(spark):
    """Pair generation must be MAP-SIDE (nested transform over the
    sorted per-doc array) — the plan may contain only the single
    frequent-items pruning join, never a second join forming pairs,
    and no cartesian product or window. The pruning join's build side
    is the vocab-bounded frequent-item list."""
    from ocaml_lucene_spark.functions.textstats import frequent_item_sets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(frequent_item_sets(docs, min_support=30))
    # formatted mode repeats node names in the details section — count
    # distinct numbered join nodes
    joins = set(re.findall(r"\(\d+\) (\w*Join\w*)", plan))
    assert joins == {"BroadcastHashJoin"}, plan
    n_join_nodes = len(set(re.findall(r"\((\d+)\) \w*Join\w*", plan)))
    assert n_join_nodes == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_linear_fusion_minmax_frames_broadcast(spark):
    """Both legs' one-row min/max frames must broadcast (never a
    shuffle join against a 1-row side), and the final cut is
    TakeOrderedAndProject — no global sort."""
    import __spark_entry__ as entry
    from ocaml_lucene_spark.query.rescore import linear_fusion_topk

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    vecs = spark.read.parquet(f"{sf}/embeddings.parquet")
    plan = _plan(
        linear_fusion_topk(docs, vecs, ["table", "hash"], entry._query_vec(sf), n_each=20, k=5)
    )
    assert plan.count("BroadcastNestedLoopJoin") >= 2, plan  # 2 one-row mm frames
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cumulative_cardinality_window_is_bucket_frame_only(spark):
    """The running-sum window is allowed to be SinglePartition ONLY
    because it runs over the |buckets|-row frame (post-aggregate);
    the heavy work — the two distinct shuffles — must be aggregates,
    and the raw events frame must never enter a window."""
    from ocaml_lucene_spark.query.grouping import cumulative_cardinality

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(cumulative_cardinality(ev))
    # window input comes from the bucket-level join, after >=2
    # aggregate pairs (per-bucket agg + first-seen agg)
    assert plan.count("HashAggregate") >= 6, plan
    assert "Window" in plan, plan


def test_bucket_script_is_one_agg_pair_no_window(spark):
    """bucket_script's 'scripts' are projections over the histogram
    frame: exactly one partial/final aggregate pair, no window, no
    join — the per-bucket arithmetic must never add a shuffle."""
    from ocaml_lucene_spark.query.grouping import bucket_script

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(bucket_script(ev))
    # one numbered partial+final pair (formatted mode repeats names in
    # the details section — count distinct numbered nodes)
    n_aggs = len(set(re.findall(r"\((\d+)\) HashAggregate", plan)))
    assert n_aggs == 2, plan
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_terms_lookup_broadcasts_the_lookup_side(spark):
    """The lookup doc's term list must BROADCAST into the corpus token
    stream (it is one document at any corpus scale); the lookup-side
    scan must push the doc_id filter down to parquet."""
    from ocaml_lucene_spark.query.bm25 import terms_lookup_filter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(terms_lookup_filter(docs, lookup_doc_id=7))
    joins = set(re.findall(r"\(\d+\) (\w*Join\w*)", plan))
    assert joins == {"BroadcastHashJoin"}, plan
    assert re.search(r"PushedFilters: \[.*EqualTo\(doc_id,7\).*\]", plan), plan


def test_domain_cap_window_is_source_partitioned(spark):
    """The cap window must partition on the DOMAIN key — never a
    SinglePartition global sort — and the scan must prune to the three
    columns the operator reads."""
    from ocaml_lucene_spark.operators.selection import domain_cap_select

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(domain_cap_select(docs, cap=10))
    assert "Window" in plan, plan
    assert re.search(r"hashpartitioning\(source", plan), plan
    assert _read_schema_cols(plan) == {"doc_id", "source", "n_chars"}, plan


def test_semdedup_pair_join_is_cell_keyed(spark):
    """SemDeDup's quadratic stage must be equi-keyed on the k-means
    cell (SortMergeJoin/ShuffledHashJoin on cell — NEVER a cartesian
    product), and the dropped-set anti side stays a plain join back on
    vec_id."""
    import __spark_entry__ as entry
    from ocaml_lucene_spark.operators.ann import semdedup

    sf = "/root/testdata/sf0.001"
    vecs = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = entry._ivf_kmeans_centroids(sf)
    plan = _plan(semdedup(vecs, cents, min_sim=0.4))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the quadratic stage keys on cell (equi-join), whatever physical
    # strategy the size estimate picks
    assert re.search(r"Left keys \[1\]: \[cell#", plan), plan
    assert re.search(r"Right keys \[1\]: \[cell#", plan), plan


def test_chunk_windows_has_no_shuffle_before_the_gate_sort(spark):
    """Chunking is scan + tokenize + generate + slice — map-side only.
    The ONLY exchange allowed in the plan is the gate-determinism
    rangepartitioning for the final orderBy; no aggregate, no join."""
    from ocaml_lucene_spark.operators.packing import chunk_windows

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(chunk_windows(docs, window=64, stride=48))
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    n_exchanges = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
    assert n_exchanges == 1, plan
    assert "rangepartitioning" in plan, plan
    assert "Generate" in plan, plan  # the posexplode


def test_has_parent_broadcasts_the_topk_parent_frame(spark):
    """The k-row top-parents frame must broadcast into the children
    projection — a shuffle join keyed on the parent would move every
    child row for a k-row build side."""
    from ocaml_lucene_spark.query.grouping import has_parent_children

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(has_parent_children(docs, ["zipf", "data"], "source", "max", 3))
    assert re.search(r"Left keys \[1\]: \[parent#|BroadcastHashJoin", plan), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_complete_context_pushes_lang_and_takes_ordered(spark):
    """The context filter must reach the parquet scan (the context
    prunes the corpus BEFORE tokenization) and the k-cut must be
    TakeOrderedAndProject, never a global sort."""
    from ocaml_lucene_spark.query.suggest import complete_context

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(complete_context(docs, "s", "de", k=10))
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,de\).*\]", plan), plan
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize("n_tasks", [1, 4])
def test_wand_plan_is_one_stage_without_exchange(spark, built, n_tasks):
    """The WAND plan's range tasks read their own blocks: below the
    final TakeOrderedAndProject there is no Exchange (no postings
    shuffle to the ranges) and no grouped pandas UDF."""
    from ocaml_lucene_spark.query.exec import bm25_topk_wand_parallel

    plan = _plan(
        bm25_topk_wand_parallel(spark, built, ["zipf", "data"], "or", 10, n_tasks=n_tasks)
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan and "FlatMapGroupsInPandas" not in plan, plan
    assert "MapInPandas" in plan and "Scan parquet" not in plan, plan
