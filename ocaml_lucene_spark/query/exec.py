"""Physical query execution over packed segments.

Two plans, same results (tested against each other and the oracle;
bm25_topk_auto routes between them with zero Spark jobs):

1. ``bm25_topk_indexed`` — distributed exhaustive: parquet scan of the
   query terms' blocks (term predicate pushes to row groups via the
   term-sorted zone maps; payload columns pruned until needed) ->
   mapInArrow batch decode (codecs.blocks.decode_postings, the block
   decoder every postings reader shares) + per-posting float64 score ->
   groupBy(doc_id) agg -> TakeOrderedAndProject(k). Scales to hot
   terms whose posting lists span many partitions.

2. ``bm25_topk_wand_parallel`` — block-max WAND (query/wand.py) with
   lazy decode over contiguous doc ranges: one Spark job of
   ``spark.range(n_tasks)`` mapped by a pandas UDF, no shuffle. The task
   for a range reads its own candidate blocks from the live postings
   files with pyarrow (term and doc-range filters on the row-group
   statistics, the block columns only), runs one clipped pruning sweep
   and returns its local top-k; the union's top-k is exact. With one
   range (``bm25_topk_wand_exec``, the router's ``wand`` plan) one task
   reads every candidate block, which for the common case (few terms,
   k small) decodes a fraction of them — payloads never touch the
   driver.

Both plans share one preamble (_prepare): N and avgdl from the
manifest, per-term df from the in-memory FST term dictionaries
(query/term_index.py), so reading df runs no Spark job. Stats
aggregate across all live segments, so scores are identical to a
single-segment index over the same docs — which is what makes merge a
pure layout operation (tested).
"""

from __future__ import annotations

import math
import os
from collections import namedtuple
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..codecs.blocks import decode_postings, isin_sorted
from ..index import segments as seg
from ..index.deletes import deleted_ids, drop_deleted
from ..oracle import B, K1
from .term_index import dir_token, doc_freqs_mem
from .wand import (
    DeletedDocSet,
    PostingList,
    block_max_wand,
    bm25_scores,
    frontier_ub,
    tfn_ub,
)


def live_segment_paths(index_dir: str) -> list[str]:
    return [
        seg.segment_paths(index_dir, r["segment"])["postings"]
        for r in seg.list_segments(index_dir)
    ]


def _live_postings_files(index_dir: str) -> list[str]:
    """The live segments' postings files: the non-hidden ``*.parquet``
    files in their directories (what Spark's parquet reader lists),
    largest first and otherwise in listing order, the order Spark's file
    scan gives its splits. The order is fixed because WAND's decode
    counts depend on it: ties between posting lists at one doc break by
    the order their terms' blocks arrive in."""
    files = [
        os.path.join(p, f)
        for p in live_segment_paths(index_dir)
        for f in sorted(os.listdir(p))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    return sorted(files, key=lambda f: -os.path.getsize(f))


def global_stats(index_dir: str) -> dict:
    rows = seg.list_segments(index_dir)
    n_docs = sum(r["n_docs"] for r in rows)
    sum_dl = sum(r["sum_dl"] for r in rows)
    return {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
    }


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


class _Query(NamedTuple):
    terms: list[str]  # deduplicated, first-seen order
    require: list[str]  # must clauses (every term for mode='and')
    dfs: dict[str, int]  # present terms only
    idfs: dict[str, float]
    avgdl: float
    empty: bool  # provably no result: skip the scan


def _prepare(
    index_dir: str, terms: list[str], mode: str, must: list[str] | None
) -> _Query:
    """The preamble every BM25 plan shares: dedup terms, check must is
    a subset of terms, derive the required set, read N/avgdl from the
    manifest and df from the in-memory term dictionaries (no Spark
    job), compute idfs, and decide the empty result — no scoring term
    in the index, or a required term absent."""
    terms = list(dict.fromkeys(terms))
    if must and not set(must) <= set(terms):
        raise ValueError(
            f"must clauses {sorted(set(must) - set(terms))} are not in terms; "
            "must is a subset of the scored terms (add them to terms)"
        )
    require = list(dict.fromkeys(must)) if must else (
        terms if mode == "and" else []
    )
    stats = global_stats(index_dir)
    dfs = doc_freqs_mem(index_dir, terms)
    empty = not any(t in dfs for t in terms) or any(t not in dfs for t in require)
    idfs = {t: idf(stats["n_docs"], dfs.get(t, 0)) for t in terms}
    return _Query(terms, require, dfs, idfs, stats["avgdl"], empty)


def _empty(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "doc_id long, score double")


# index_dir -> (postings directories' fingerprints, their Spark schema)
_POSTINGS_SCHEMA: dict[str, tuple[tuple, StructType]] = {}


def _postings_df(spark: SparkSession, index_dir: str, terms: list[str]) -> DataFrame:
    """The live segments' postings blocks of ``terms`` (the term
    predicate pushes down to row groups). Spark infers a parquet schema
    from a file footer in a Spark job of its own, so the schema is
    inferred once per set of postings directories and reused while
    their fingerprints hold."""
    paths = live_segment_paths(index_dir)
    key = tuple((p, dir_token(p)) for p in paths)
    cached = _POSTINGS_SCHEMA.get(index_dir)
    if cached is None or cached[0] != key:
        cached = (key, spark.read.parquet(*paths).schema)
        _POSTINGS_SCHEMA[index_dir] = cached
    return (
        spark.read.schema(cached[1]).parquet(*paths)
        .filter(F.col("term").isin(terms))
    )


def _map_blocks(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    cols: list[str],
    kernel,
    schema: str,
) -> DataFrame:
    """``kernel`` under mapInArrow over the live postings blocks of
    ``terms``, reading only ``cols`` (the term predicate pushes to row
    groups). The kernel maps one Arrow batch of block rows to one output
    RecordBatch, decoding with codecs.blocks.decode_postings; empty
    outputs are dropped."""
    blocks = _postings_df(spark, index_dir, list(dict.fromkeys(terms))).select(*cols)

    def run(batches):
        for rb in batches:
            out = kernel(rb)
            if out.num_rows:
                yield out

    return blocks.mapInArrow(run, schema)


def term_doc_ids_df(
    spark: SparkSession, index_dir: str, terms: list[str]
) -> DataFrame:
    """doc_ids containing ANY of ``terms`` (with multiplicity across
    terms), decoded ON EXECUTORS from the terms' postings blocks (only
    term and doc_bytes are read — tf/dl/pos columns pruned). The single
    output column is ``doc_id long``: a driver that collects this holds
    8 bytes per posting, never packed payload bytes."""
    return term_doc_ids_with_term_df(spark, index_dir, terms).select("doc_id")


def excluded_docs_df(
    spark: SparkSession, index_dir: str, exclude: list[str]
) -> DataFrame:
    """Distinct doc_ids containing ANY excluded term (NOT-clause anti-
    join side), decoded executor-side."""
    return term_doc_ids_df(spark, index_dir, exclude).distinct()


def term_doc_ids_with_term_df(
    spark: SparkSession, index_dir: str, terms: list[str]
) -> DataFrame:
    """(doc_id, term) pairs for every posting of ``terms`` — already
    distinct (a term's blocks are doc-disjoint). Only doc_bytes is
    decoded: tf/dl/pos columns are pruned at the scan, so
    filter-context queries never touch scoring payload."""

    def kernel(rb):
        d = decode_postings(rb)
        return pa.RecordBatch.from_arrays(
            [pa.array(d["doc_id"]), rb.column("term").take(pa.array(d["row"]))],
            names=["doc_id", "term"],
        )

    return _map_blocks(
        spark, index_dir, terms, ["term", "doc_bytes"], kernel,
        "doc_id long, term string",
    )


def matching_docs_indexed(
    spark: SparkSession,
    index_dir: str,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    min_should_match: int = 0,
) -> DataFrame:
    """Filter context / ConstantScoreQuery: the MATCHING DOC SET with
    no scoring at all (Lucene's BooleanQuery in filter context, the
    source for TotalHitCountCollector and for cached filters). Returns
    (doc_id) rows.

    Plan shape: postings scan reads ONLY the doc-id stream (tf/dl/pos
    pruned — .explain shows the 2-column ReadSchema), one
    groupBy(doc_id) counts must/should hits per doc, must_not is a
    left_anti join. One shuffle on doc_id; no float math anywhere."""
    must = list(dict.fromkeys(must or []))
    should = list(dict.fromkeys(should or []))
    must_not = list(dict.fromkeys(must_not or []))
    if not must and not should:
        raise ValueError("need at least one must or should term")
    hits = term_doc_ids_with_term_df(spark, index_dir, must + should)
    n_must = F.sum(F.when(F.col("term").isin(must), 1).otherwise(0))
    n_should = F.sum(F.when(F.col("term").isin(should), 1).otherwise(0))
    agg = hits.groupBy("doc_id").agg(
        n_must.alias("nm"), n_should.alias("ns")
    )
    cond = F.col("nm") == len(must)
    if should and (min_should_match > 0 or not must):
        cond = cond & (F.col("ns") >= max(min_should_match, 0 if must else 1))
    out = agg.filter(cond).select("doc_id")
    if must_not:
        out = out.join(excluded_docs_df(spark, index_dir, must_not), "doc_id", "left_anti")
    return drop_deleted(out, index_dir).orderBy("doc_id")


def count_matching_indexed(
    spark: SparkSession,
    index_dir: str,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
) -> DataFrame:
    """TotalHitCountCollector: (n_hits) in one row — the count of the
    filter-context match set, never materializing scores."""
    return matching_docs_indexed(spark, index_dir, must, should, must_not).agg(
        F.count("*").alias("n_hits")
    )


def bm25_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    mode: str = "or",
    k: int = 10,
    round_to: int | None = None,
    exclude: list[str] | None = None,
    must: list[str] | None = None,
    min_should_match: int = 0,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Distributed exhaustive plan. Returns (doc_id, score) DataFrame.

    exclude: NOT clause — left_anti join against the excluded terms'
    decoded doc lists (the sorted-postings anti-join of SURVEY §2.3,
    re-expressed as a Spark anti join; df/N/avgdl are unaffected).

    must: BooleanQuery must clauses — results must contain every term
    in ``must`` (a subset of ``terms``); the rest of ``terms`` are
    should clauses (score-only). mode='and' is shorthand for
    must=terms.

    after: search_after cursor (score, doc_id) from the previous page's
    last row — returns the NEXT k results in (score DESC, doc_id ASC)
    order. k=None returns the full unordered scored frame (combiner
    input, e.g. DisMax)."""
    if after is not None and round_to is None:
        # the cursor comes from a previous page, whose scores were
        # rounded; comparing an unrounded float cursor with == is
        # float-fuzzy and can skip or duplicate tied rows across pages
        # (the exactness contract only holds for rounded cursors)
        raise ValueError(
            "search_after requires round_to: the (score, doc_id) cursor "
            "is only exact when scores are rounded on both pages"
        )
    q = _prepare(index_dir, terms, mode, must)
    if q.empty:
        return _empty(spark)
    terms, must_set, dfs, idfs, avgdl = q.terms, q.require, q.dfs, q.idfs, q.avgdl

    # conjunctive block-range pruning (the leapfrog/skip-list move at
    # block granularity): decode the rarest term's docIDs (bounded by
    # and_prune_max_df), broadcast them, and kill every other term's
    # blocks whose [first_doc, last_doc] cannot intersect — a rare∧hot
    # query then touches only the hot blocks overlapping rare docs
    # instead of the whole hot posting list.
    cand_docs = None
    and_prune_max_df = 200_000
    if must_set and len(terms) > 1:
        # every result contains every must term: prune block ranges by
        # the RAREST must term's doc list
        rare = min(must_set, key=lambda t: dfs[t])
        if dfs[rare] <= and_prune_max_df:
            # decode the rare term's doc list ON EXECUTORS and pull back
            # only the int64 ids (~8 bytes/posting, bounded by
            # and_prune_max_df): packed payload bytes never transit the
            # driver, matching the 1000-executor shape
            ids = (
                term_doc_ids_df(spark, index_dir, [rare])
                .toPandas()["doc_id"]
                .to_numpy(dtype=np.int64)
            )
            cand_docs = np.sort(ids)
            bc_docs = spark.sparkContext.broadcast(cand_docs)

    prune = cand_docs is not None
    cols = ["term", "doc_bytes", "tf_bytes", "dl_bytes"]
    cols += ["first_doc", "last_doc"] if prune else []

    def decode_score(rb):
        if prune:
            cands = bc_docs.value
            # coarse: decode only the blocks whose [first_doc, last_doc]
            # holds a candidate
            first = rb.column("first_doc").to_numpy(zero_copy_only=False)
            last = rb.column("last_doc").to_numpy(zero_copy_only=False)
            at = np.searchsorted(cands, first, side="left")
            hit = at < cands.size
            hit[hit] = cands[at[hit]] <= last[hit]
            rb = rb.filter(pa.array(hit))
        d = decode_postings(rb)
        if prune:
            keep = isin_sorted(d["doc_id"], cands)
            d = {k: v[keep] for k, v in d.items()}
        term_idf = np.array([idfs[t] for t in rb.column("term").to_pylist()])
        sc = bm25_scores(
            term_idf[d["row"]],
            d["tf"].astype(np.float64),
            d["dl"].astype(np.float64),
            avgdl,
        )
        return pa.RecordBatch.from_arrays(
            [
                pa.array(d["doc_id"]),
                rb.column("term").take(pa.array(d["row"])),
                pa.array(sc),
            ],
            names=["doc_id", "term", "sc"],
        )

    scored = _map_blocks(
        spark, index_dir, terms, cols, decode_score,
        "doc_id long, term string, sc double",
    )
    from .bm25 import _query_order_sum

    # deterministic per-doc sum in query-term order (see bm25.py): a
    # plain F.sum's partial-order varies with partitioning and can flip
    # tie-breaks by one ulp vs the oracle
    n_hit = (
        F.sum(F.when(F.col("term").isin(must_set), 1).otherwise(0))
        if must_set
        else F.count("*")
    )
    n_should = F.sum(
        F.when(~F.col("term").isin(must_set), 1).otherwise(0)
    )
    agg = scored.groupBy("doc_id").agg(
        _query_order_sum(terms).alias("score_raw"),
        n_hit.alias("nhit"),
        n_should.alias("n_should"),
    )
    if must_set:
        agg = agg.filter(F.col("nhit") == len(must_set))
    if min_should_match:
        agg = agg.filter(F.col("n_should") >= min_should_match)
    if exclude:
        agg = agg.join(excluded_docs_df(spark, index_dir, exclude), "doc_id", "left_anti")
    agg = drop_deleted(agg, index_dir)  # liveDocs: results only
    score = (
        F.round(F.col("score_raw"), round_to) if round_to is not None else F.col("score_raw")
    )
    out = agg.select("doc_id", score.alias("score"))
    if k is None:
        # unlimited scored frame (no collector): the field-score input
        # to multi-field combiners like bm25_topk_dismax
        return out
    if after is not None:
        # search_after pagination (Lucene IndexSearcher.searchAfter):
        # keep rows STRICTLY after the (score, doc_id) cursor in the
        # result order (score DESC, doc_id ASC). A collector-level
        # filter — orthogonal to the scoring plan, so page 2 reuses
        # all of this plan's pruning. Compare on the ROUNDED score
        # (the cursor comes from a rounded page), so the predicate is
        # exact, not float-fuzzy.
        s0, d0 = float(after[0]), int(after[1])
        out = out.filter(
            (F.col("score") < s0)
            | ((F.col("score") == s0) & (F.col("doc_id") > d0))
        )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _occurrences_df(
    spark: SparkSession, index_dir: str, terms: list[str], with_offsets: bool
) -> DataFrame:
    """(doc_id, term, p[, start]): every occurrence of ``terms`` with
    its token position (and char start offset), one row per occurrence
    from the packed .pos (and .pay) streams."""
    cols = ["term", "doc_bytes", "tf_bytes", "pos_bytes"]
    cols += ["off_bytes"] if with_offsets else []

    def kernel(rb):
        d = decode_postings(rb)
        occ_row = np.repeat(d["row"], d["tf"])
        arrays = [
            pa.array(np.repeat(d["doc_id"], d["tf"])),
            rb.column("term").take(pa.array(occ_row)),
            pa.array(d["positions"]),
        ]
        names = ["doc_id", "term", "p"]
        if with_offsets:
            arrays.append(pa.array(d["starts"]))
            names.append("start")
        return pa.RecordBatch.from_arrays(arrays, names=names)

    schema = "doc_id long, term string, p long"
    schema += ", start long" if with_offsets else ""
    return _map_blocks(spark, index_dir, terms, cols, kernel, schema)


def flat_positions_df(
    spark: SparkSession, index_dir: str, terms: list[str]
) -> DataFrame:
    """FLAT (doc_id, term, p) occurrence rows for the given terms from
    the packed positions stream (.pos consumer,
    /root/reference/codec/lucene_84_postings_reader.ml:4-7; requires a
    with_positions build). Term predicate pushes to row groups; one
    vectorized numpy decode per Arrow batch of blocks."""
    return _occurrences_df(spark, index_dir, terms, with_offsets=False)


def phrase_counts_indexed(
    spark: SparkSession, index_dir: str, first: str, second: str
) -> DataFrame:
    """(doc_id, n_phrase) for adjacent '<first> <second>' from the
    packed positions stream — the 2-word case of
    ``phrase_counts_indexed_multi``."""
    return phrase_counts_indexed_multi(spark, index_dir, [first, second])


def phrase_counts_indexed_multi(
    spark: SparkSession, index_dir: str, words: list[str]
) -> DataFrame:
    """(doc_id, n_phrase) for an exact n-word phrase over the packed
    positions stream: flat (doc_id, term, p) emission, then a chain of
    JVM equi-joins on (doc_id, anchor p) — slot i's positions shift
    down by i. Only the query words' occurrences ever shuffle; joins
    and the final agg are whole-stage codegen."""
    assert words, "empty phrase"
    # one flat_positions_df PER SLOT, scanned with that slot's term
    # only (r9): a shared frame filtered per side is re-evaluated per
    # join side by Spark, and each side's scan carried the FULL
    # In(term, words) pushdown — every slot decoded every word's
    # position blocks. Per-slot frames decode each word's blocks
    # exactly once and the scans prune to one term each.
    cur = flat_positions_df(spark, index_dir, [words[0]]).select(
        "doc_id", F.col("p").alias("pp")
    )
    for i, w in enumerate(words[1:], start=1):
        nxt = flat_positions_df(spark, index_dir, [w]).select(
            "doc_id", (F.col("p") - i).alias("pp")
        )
        cur = cur.join(nxt, ["doc_id", "pp"])
    return cur.groupBy("doc_id").agg(F.count("*").alias("n_phrase"))


def multi_phrase_counts_indexed(
    spark: SparkSession, index_dir: str, slots: list[list[str]]
) -> DataFrame:
    """Lucene MultiPhraseQuery: an exact phrase where each position
    slot accepts ANY of a set of alternative terms (the query type
    Lucene builds for index-time synonyms / tokenizer graphs at a
    position). (doc_id, n_phrase) counts every anchor position where
    slot i (shifted down by i) matches one of its alternatives.

    Same physical shape as ``phrase_counts_indexed_multi`` — flat
    (doc_id, term, p) emission from the packed .pos stream with term
    pushdown for the UNION of all alternatives, then a chain of JVM
    equi-joins on (doc_id, anchor p). A position holds exactly one
    token, so alternatives within a slot cannot double-count.

    Reference semantics: multi-term positional intersection, the
    positions stream consumed per
    /root/reference/codec/lucene_84_postings_reader.ml:4-7."""
    assert slots and all(slots), "empty slot in multi-phrase"
    # per-slot scans (same r9 fix as phrase_counts_indexed_multi): a
    # shared frame is re-evaluated per join side with the union
    # pushdown, decoding every slot's blocks once per slot
    cur = flat_positions_df(spark, index_dir, list(slots[0])).select(
        "doc_id", F.col("p").alias("pp")
    )
    for i, alts in enumerate(slots[1:], start=1):
        nxt = flat_positions_df(spark, index_dir, list(alts)).select(
            "doc_id", (F.col("p") - i).alias("pp")
        )
        cur = cur.join(nxt, ["doc_id", "pp"])
    return cur.groupBy("doc_id").agg(F.count("*").alias("n_phrase"))


def _block_ub(r, w: float, avgdl: float) -> float:
    """Per-block score upper bound: exact block-max score from the
    stored pareto (tf, dl) frontier, computed with the SAME float
    association as the decoded posting scores (see frontier_ub). Rows
    constructed without the frontier columns (direct PostingList test
    fixtures; NOT on-disk pre-0.4 segments — those fail the column
    select before reaching here) fall back to the conservative
    tfn(max_tf, min_dl) pairing, padded by one ulp for the same
    association-safety reason."""
    tfs = getattr(r, "ub_tfs", None)
    if tfs is not None and len(tfs):
        return frontier_ub(tfs, r.ub_dls, avgdl, idf=w)
    return float(np.nextafter(w * tfn_ub(r.max_tf, r.min_dl, avgdl), np.inf))


def proximity_counts_indexed(
    spark: SparkSession,
    index_dir: str,
    first: str,
    second: str,
    window: int = 5,
) -> DataFrame:
    """(doc_id, n_pairs) proximity counts over the packed .pos stream:
    flat occurrence emission (term pushdown to row groups), then the
    same doc-co-partitioned range join as the logical path."""
    flat = flat_positions_df(spark, index_dir, [first, second])
    a = flat.filter(F.col("term") == first).select(
        "doc_id", F.col("p").alias("p1")
    )
    b = flat.filter(F.col("term") == second).select(
        F.col("doc_id").alias("doc_id_b"), F.col("p").alias("p2")
    )
    return (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.abs(F.col("p2") - F.col("p1")) <= window)
            & (F.col("p1") != F.col("p2")),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_pairs"))
    )


def build_posting_lists(
    rows: list, idfs: dict[str, float], avgdl: float
) -> list[PostingList]:
    """Assemble WAND posting lists from block rows (any object with
    .term/.block_no/.first_doc/.last_doc/.max_tf/.min_dl/.*_bytes,
    plus the optional .ub_tfs/.ub_dls pareto-frontier columns).

    Blocks of one term are globally doc-disjoint (a doc sits in exactly
    one block per term per segment; salt shards are contiguous doc
    ranges; segments are doc-disjoint), so sorting all of a term's
    blocks by first_doc yields ONE valid doc-sorted posting list — the
    layout block-max pruning needs. The first-fit run partition below
    is a safety net for layouts where ranges do overlap (e.g. segments
    merged from hash-salted builds): any partition of doc-disjoint
    blocks into ascending-range chains is a valid WAND posting unit.
    """
    lists: list[PostingList] = []
    by_term: dict[str, list] = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    for term, rs in by_term.items():
        rs.sort(key=lambda r: (r.first_doc, r.last_doc, r.block_no))
        runs: list[list] = []
        for r in rs:
            for run in runs:
                if run[-1].last_doc < r.first_doc:
                    run.append(r)
                    break
            else:
                runs.append([r])
        w = idfs[term]
        for run in runs:
            lists.append(
                PostingList(
                    term=term,
                    idf=w,
                    avgdl=avgdl,
                    first_doc=np.array([r.first_doc for r in run], dtype=np.int64),
                    last_doc=np.array([r.last_doc for r in run], dtype=np.int64),
                    ub=np.array([_block_ub(r, w, avgdl) for r in run]),
                    payloads=[
                        (bytes(r.doc_bytes), bytes(r.tf_bytes), bytes(r.dl_bytes))
                        for r in run
                    ],
                )
            )
    return lists


def term_offsets(
    spark: SparkSession, index_dir: str, term: str
) -> DataFrame:
    """(doc_id, pos, start): every occurrence of ``term`` with its token
    position and char start offset in the source text — the .pay-stream
    consumer (/root/reference/codec/lucene_84_postings_reader.ml:16-49;
    pay_start_fp in terms_enumerator.ml:21-44), the primitive behind
    highlighting. Requires a with_offsets build. Fully vectorized: one
    flat numpy decode per Arrow batch of blocks, term predicate pushed
    to row groups."""
    return _occurrences_df(spark, index_dir, [term], with_offsets=True).select(
        "doc_id", F.col("p").alias("pos"), "start"
    )


def highlight_topk(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """(doc_id, score, term, pos, start) — the highlighting surface the
    .pay stream exists for: BM25 top-k (auto-routed plan) joined with
    every query-term occurrence's token position and char start offset
    in those k docs. Requires a with_offsets build.

    Plan: top-k (k rows) broadcasts into the offsets scan, so only the
    k result docs' occurrence rows survive the join — at 100 TB the
    occurrence side is term-pushdown-pruned blocks, and the broadcast
    side is k rows."""
    top = bm25_topk_auto(spark, index_dir, terms, "or", k, round_to=round_to)
    occ = _occurrences_df(spark, index_dir, terms, with_offsets=True)
    return (
        F.broadcast(top)
        .join(occ, "doc_id")
        .select("doc_id", "score", "term", F.col("p").alias("pos"), "start")
    )


_WAND_BLOCK_COLS = (
    "term", "block_no", "first_doc", "last_doc", "max_tf", "min_dl",
    "ub_tfs", "ub_dls", "doc_bytes", "tf_bytes", "dl_bytes",
)
_WandBlock = namedtuple("_WandBlock", _WAND_BLOCK_COLS)


def bm25_topk_wand_exec(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    mode: str = "or",
    k: int = 10,
    round_to: int | None = None,
    metrics: dict | None = None,
    exclude: list[str] | None = None,
    must: list[str] | None = None,
    min_should_match: int = 0,
) -> DataFrame:
    """Cluster-side block-max WAND in ONE executor task: the doc-range
    plan (``bm25_topk_wand_parallel``) with a single range, so one task
    reads every candidate block and returns only the k result rows. The
    router's ``wand`` plan: right when the candidate set is small (few
    query terms, k small); pruning is then global.

    Arguments as for ``bm25_topk_wand_parallel``."""
    return bm25_topk_wand_parallel(
        spark, index_dir, terms, mode, k, round_to=round_to, exclude=exclude,
        n_tasks=1, metrics=metrics, must=must,
        min_should_match=min_should_match,
    )


DEFAULT_WAND_MAX_DF_SUM = 2_000_000
# parallel-WAND range floor. The plan exists for HOT (stopword-heavy)
# term sets — the auto router sends prunable queries to the single-task
# WAND — and for those, per-range decode is ~100% whatever the range
# size, so smaller ranges buy wave parallelism without losing pruning
# on the workload this plan actually serves. r9 sweep on the 100k-doc
# bench index (all-stopword query, 32 slots): n_tasks 2/4/8/16/32 ->
# 2.28/2.22/1.79/1.78/2.24 s; 12.5k keeps ranges big enough that the
# per-range seed pass stays negligible. Still scale-adaptive: n_tasks
# derives from the doc span and is capped by cluster parallelism — at
# 10^9+ docs the cap binds and ranges are huge regardless.
MIN_RANGE_DOCS = 12_500


def bm25_route(
    index_dir: str,
    terms: list[str],
    exclude: list[str] | None = None,
    wand_max_df_sum: int = DEFAULT_WAND_MAX_DF_SUM,
    dfs: dict[str, int] | None = None,
) -> dict:
    """Physical-plan choice for BM25 top-k, decided from the in-memory
    FST term dictionaries with ZERO Spark jobs (query/term_index.py).
    Three routes over two plans, identical results:

    - ``wand``: the WAND plan with one range (bm25_topk_wand_exec,
      n_tasks=1) — every candidate block to ONE task. Right when the
      total payload is small: sum of df across terms+exclude <=
      ``wand_max_df_sum`` (~2.5 bytes/posting packed). A stopword
      query at 100 TB must never take this route.
    - ``parallel``: the same plan with its derived range count
      (bm25_topk_wand_parallel), above the threshold when at least one
      SCORING term is selective (min df over terms <= threshold) —
      per-range block-max pruning then approaches the global
      single-task ratio as ranges grow (range size >> k; see the
      range-sizing note on the plan), with per-task memory bounded to
      one range's blocks.
    - ``indexed`` (bm25_topk_indexed): above the threshold with NO
      selective term (all-stopword query). Pruning is then provably
      hopeless (every block holds a top-k contender — measured ~100%
      decode floor), so the vectorized exhaustive scan wins: decode
      everything with C-speed kernels rather than walk every doc
      through the pivot loop.

    The reference's analogous per-node strategy dispatch:
    /root/reference/fst/byte_array_fst_reader.ml:330-342.

    dfs: optional precomputed term -> df (e.g. from a prefix/fuzzy
    expansion, which already walked the dictionaries) — skips the
    FST lookups for those terms.
    """
    all_terms = list(dict.fromkeys(list(terms) + list(exclude or [])))
    known = dict(dfs or {})
    known.update(doc_freqs_mem(index_dir, [t for t in all_terms if t not in known]))
    df_sum = 0
    min_df = None
    for t in all_terms:
        df = int(known.get(t, 0))
        df_sum += df
        # absent scoring terms (df 0) are NOT selective: they seed no
        # theta, so they must not pull a stopword query onto a pruning
        # plan whose pruning would be at its floor
        if t in terms and df > 0:
            min_df = df if min_df is None else min(min_df, df)
    if df_sum <= wand_max_df_sum:
        plan = "wand"
    elif min_df is not None and min_df <= wand_max_df_sum:
        plan = "parallel"
    else:
        plan = "indexed"
    return {"plan": plan, "df_sum": df_sum, "min_df": min_df}


def bm25_topk_dismax(
    spark: SparkSession,
    field_dirs: dict[str, str],
    terms: list[str],
    k: int = 10,
    tie_breaker: float = 0.0,
    round_to: int | None = None,
) -> DataFrame:
    """Multi-field search: Lucene DisjunctionMaxQuery over per-field
    indexes. A Lucene field is its own posting space (per-field
    postings readers, separate df/avgdl — the reference's .tmd carries
    8 independent field_metas); this engine maps a field to its own
    index directory, so ``field_dirs`` is {field_name: index_dir}.

    score(doc) = max_f s_f + tie_breaker * sum_{f != argmax} s_f
    (Lucene DisMax semantics; tie_breaker=0 is pure dismax, 1.0 sums).

    Plan: each field contributes its full scored frame (k=None — the
    per-field exhaustive plan with that field's own stats), combined
    with a full outer join on doc_id; fields fold in the caller's dict
    order so float sums are deterministic. At cluster scale the field
    frames are term-pruned scans (bounded by the query terms' df in
    each field), never corpus-wide."""
    if not field_dirs:
        raise ValueError("need at least one field")
    fields = list(field_dirs)
    joined = None
    for fname in fields:
        fr = bm25_topk_indexed(
            spark, field_dirs[fname], terms, "or", k=None
        ).select("doc_id", F.col("score").alias(f"s_{fname}"))
        joined = fr if joined is None else joined.join(fr, "doc_id", "full_outer")
    cols = [F.coalesce(F.col(f"s_{f}"), F.lit(0.0)) for f in fields]
    mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    raw = mx + F.lit(float(tie_breaker)) * (total - mx)
    score = F.round(raw, round_to) if round_to is not None else raw
    return (
        joined.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_auto(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    mode: str = "or",
    k: int = 10,
    round_to: int | None = None,
    exclude: list[str] | None = None,
    wand_max_df_sum: int = DEFAULT_WAND_MAX_DF_SUM,
    decision: dict | None = None,
    dfs: dict[str, int] | None = None,
    must: list[str] | None = None,
    min_should_match: int = 0,
) -> DataFrame:
    """One BM25 entry point with automatic physical-plan selection (see
    bm25_route: wand / parallel / indexed). All plans return identical
    results (each is gated against the same SQL oracle), so routing is
    purely physical. decision: optional dict receiving
    {"plan", "df_sum", "min_df"}; dfs: optional precomputed term -> df
    for the router; must: BooleanQuery must clauses (subset of terms)."""
    route = bm25_route(index_dir, terms, exclude, wand_max_df_sum, dfs=dfs)
    if decision is not None:
        decision.update(route)
    if route["plan"] == "indexed":
        return bm25_topk_indexed(
            spark, index_dir, terms, mode, k, round_to=round_to,
            exclude=exclude, must=must, min_should_match=min_should_match,
        )
    return bm25_topk_wand_parallel(
        spark, index_dir, terms, mode, k, round_to=round_to, exclude=exclude,
        n_tasks=1 if route["plan"] == "wand" else None,
        must=must, min_should_match=min_should_match,
    )


def bm25_topk_wand_parallel(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    mode: str = "or",
    k: int = 10,
    round_to: int | None = None,
    exclude: list[str] | None = None,
    n_tasks: int | None = None,
    metrics: dict | None = None,
    must: list[str] | None = None,
    min_should_match: int = 0,
) -> DataFrame:
    """Doc-range-PARALLEL block-max WAND — the one WAND plan. With
    ``n_tasks=1`` (``bm25_topk_wand_exec``) it is the single-task plan
    for small candidate sets; with the derived count it is the scale
    path for hot term sets, between that and the distributed exhaustive
    scan (no pruning).

    The doc space is cut into ``n_tasks`` contiguous ranges, and the
    plan is ONE Spark job with no Exchange: ``spark.range(n_tasks)`` in
    ``n_tasks`` partitions, mapped by a pandas UDF, then the final
    TakeOrderedAndProject. The task for a range reads its own candidate
    blocks with ``pyarrow.dataset`` from the live postings files (listed
    once on the driver): the ``_WAND_BLOCK_COLS`` columns of blocks whose
    term is in terms+exclude and whose [first_doc, last_doc] intersects
    the range, with the predicate pruning row groups by their statistics
    (the files are term-sorted). Hot/salted blocks are narrow, so ~1
    range reads each; a rare term's wide block is read by every range it
    intersects. Each task runs the full pruning WAND clipped to its range
    (min_doc/max_doc: forward-only iterators make the clip exact with no
    per-posting filtering) with lazy decode and returns its LOCAL top-k;
    ranges partition the doc space, so every doc is scored by exactly one
    task and the global top-k is the top-k of the union (one tiny final
    sort over n_tasks*k rows). Per-task memory is the blocks of one doc
    range — bounded however hot the query is; packed payloads never
    touch the driver.

    Scale cost: every range task opens the footer of every live postings
    file (the row-group statistics are in the footers), so one query
    reads n_tasks x files footers. A one-range query reads them all in
    one task; at many segments times many ranges this is the plan's
    fixed cost, which a per-segment term -> file pointer in the term
    dictionary (the paper's doc_start_fp) would bound.

    Range sizing: each range seeds its own theta, so pruning quality
    scales with docs-per-range (measured on the 100k-doc bench corpus,
    hot+mid query: 50k-doc ranges decode 55%, 6k-doc ranges 98%, the
    global single task 37%). Default n_tasks therefore targets at
    least MIN_RANGE_DOCS docs per range, capped by the cluster's
    parallelism — at 10^12 docs the cap binds and ranges are huge, so
    per-range pruning approaches the global ratio.

    exclude: NOT clause — a pure doc filter: a term in both terms and
    exclude is scored AND its docs are dropped (the SQL oracle's NOT
    IN), so the exclusion lists come from the full exclude set.

    must: BooleanQuery must clauses (subset of ``terms``); the rest of
    ``terms`` are should clauses. mode='and' is shorthand for
    must=terms. (block_max_wand's require_all_terms handles mixed
    must+should exactly: coverage-based pivots only consider the must
    terms, should lists contribute score and bounds.)

    metrics: optional dict to receive pruning counters (decoded_blocks /
    total_blocks, via accumulators — populated by wand_metrics_value
    after the returned DataFrame is acted on)."""
    q = _prepare(index_dir, terms, mode, must)
    # doc-span bounds for range sizing from the norms parquet footers,
    # driver-side (milliseconds, no Spark job). The norms span covers
    # every live doc, hence every block: any [lo, hi] covering all
    # blocks yields the same exact union (ranges partition the doc
    # space; per-range WAND is exact).
    bounds = None if q.empty else seg.doc_bounds(index_dir)
    if bounds is None:
        if metrics is not None:
            metrics.update(decoded_blocks=0, total_blocks=0)
        return _empty(spark)
    terms, idfs, avgdl = q.terms, q.idfs, q.avgdl
    require = set(q.require) or None
    exclude = list(dict.fromkeys(exclude or []))
    lo, hi = bounds
    span = hi - lo + 1
    if n_tasks is None:
        n_tasks = min(
            spark.sparkContext.defaultParallelism,
            max(1, span // MIN_RANGE_DOCS),
        )
    n_tasks = max(1, min(n_tasks, span))
    width = -(-span // n_tasks)  # ceil
    files = _live_postings_files(index_dir)
    wanted = terms + exclude

    acc_decoded = spark.sparkContext.accumulator(0)
    acc_total = spark.sparkContext.accumulator(0)
    if metrics is not None:
        metrics["_acc"] = (acc_decoded, acc_total)

    deleted = deleted_ids(index_dir)
    inc_set, exc_set = set(terms), set(exclude)

    def run_range(rid: int) -> pd.DataFrame:
        import pyarrow.dataset as pads

        r_lo = lo + rid * width
        r_hi = r_lo + width - 1
        blocks = pads.dataset(files, format="parquet").to_table(
            columns=list(_WAND_BLOCK_COLS),
            filter=pads.field("term").isin(wanted)
            & (pads.field("first_doc") <= r_hi)
            & (pads.field("last_doc") >= r_lo),
        )
        rows = [
            _WandBlock(*t)
            for t in zip(*(blocks.column(c).to_pylist() for c in _WAND_BLOCK_COLS))
        ]
        lists = build_posting_lists(
            [r for r in rows if r.term in inc_set], idfs, avgdl
        )
        xlists = build_posting_lists(
            [r for r in rows if r.term in exc_set],
            {t: 0.0 for t in exc_set},
            avgdl,
        )
        dset = DeletedDocSet(deleted) if deleted.size else None
        out, m = block_max_wand(
            lists, k, require_all_terms=require, round_to=round_to,
            exclude_lists=xlists or None, term_order=terms,
            min_doc=r_lo, max_doc=min(r_hi, hi),
            min_should_match=min_should_match,
            exclude_doc_set=dset,
        )
        acc_decoded.add(int(m["decoded_blocks"]))
        acc_total.add(int(m["total_blocks"]))
        return pd.DataFrame(
            {
                "doc_id": pd.Series([d for d, _ in out], dtype="int64"),
                "score": pd.Series([s for _, s in out], dtype="float64"),
            }
        )

    def run_ranges(batches):
        for pdf in batches:
            for rid in pdf["id"]:
                yield run_range(int(rid))

    locals_topk = spark.range(0, n_tasks, 1, n_tasks).mapInPandas(
        run_ranges, "doc_id long, score double"
    )
    return locals_topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _topk_expansion(
    spark: SparkSession,
    index_dir: str,
    stats: dict[str, tuple[int, int]],
    k: int,
    round_to: int | None,
    wand_max_df_sum: int,
) -> DataFrame:
    """Auto-routed disjunctive BM25 over a multi-term expansion (term ->
    (df, ttf) from the in-memory dictionaries): each matched term keeps
    its own idf (boolean-rewrite semantics), and the router reuses the
    expansion's dfs instead of looking them up again."""
    if not stats:
        return _empty(spark)
    return bm25_topk_auto(
        spark, index_dir, sorted(stats), "or", k, round_to=round_to,
        wand_max_df_sum=wand_max_df_sum,
        dfs={t: df for t, (df, _) in stats.items()},
    )


def bm25_topk_prefix(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    k: int = 10,
    round_to: int | None = None,
    wand_max_df_sum: int = DEFAULT_WAND_MAX_DF_SUM,
) -> DataFrame:
    """PrefixQuery: expand ``prefix`` to its matching terms via the
    in-memory FST prefix scan (zero Spark jobs, like Lucene's
    MultiTermQuery rewrite against the terms dictionary), then run the
    auto-routed disjunctive BM25 over the expansion (each matched term
    keeps its own idf — boolean-rewrite semantics)."""
    from .term_index import prefix_stats_mem

    stats = prefix_stats_mem(index_dir, prefix)
    return _topk_expansion(spark, index_dir, stats, k, round_to, wand_max_df_sum)


def bm25_topk_fuzzy(
    spark: SparkSession,
    index_dir: str,
    term: str,
    max_edits: int = 1,
    k: int = 10,
    round_to: int | None = None,
    wand_max_df_sum: int = DEFAULT_WAND_MAX_DF_SUM,
) -> DataFrame:
    """FuzzyQuery: expand ``term`` to every dictionary term within
    ``max_edits`` Levenshtein edits (in-memory dictionary scan, zero
    Spark jobs), then run the auto-routed disjunctive BM25 over the
    expansion — each matched term keeps its own idf (boolean-rewrite
    semantics, like the prefix path)."""
    from .term_index import fuzzy_stats_mem

    stats = fuzzy_stats_mem(index_dir, term, max_edits)
    return _topk_expansion(spark, index_dir, stats, k, round_to, wand_max_df_sum)


def bm25_topk_wildcard(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = 10,
    round_to: int | None = None,
    wand_max_df_sum: int = DEFAULT_WAND_MAX_DF_SUM,
) -> DataFrame:
    """WildcardQuery ('*' any run, '?' one char): expand via the
    in-memory dictionary (literal prefix narrows to an FST subtree,
    zero Spark jobs), then the auto-routed disjunctive BM25 over the
    expansion — boolean-rewrite semantics like prefix/fuzzy."""
    from .term_index import wildcard_stats_mem

    stats = wildcard_stats_mem(index_dir, pattern)
    return _topk_expansion(spark, index_dir, stats, k, round_to, wand_max_df_sum)


def term_stats_range(
    spark: SparkSession, index_dir: str, lo: str, hi: str
) -> DataFrame:
    """(term, df, ttf) for dictionary terms in [lo, hi) — the terms-
    dict range read, served from the in-memory FST enumeration (early
    termination at hi; zero Spark jobs for the lookup)."""
    from .term_index import range_stats_mem

    stats = range_stats_mem(index_dir, lo, hi)
    return spark.createDataFrame(
        [(t, int(df), int(ttf)) for t, (df, ttf) in sorted(stats.items())],
        "term string, df long, ttf long",
    )


def term_stats_prefix(
    spark: SparkSession, index_dir: str, prefix: str
) -> DataFrame:
    """(term, df, ttf) for every term starting with ``prefix``, served
    from the in-memory FST prefix scan — the terms-dict range/prefix
    read (Lucene floor-block walk semantics), zero Spark jobs for the
    lookup."""
    from .term_index import prefix_stats_mem

    stats = prefix_stats_mem(index_dir, prefix)
    return spark.createDataFrame(
        [(t, int(df), int(ttf)) for t, (df, ttf) in sorted(stats.items())],
        "term string, df long, ttf long",
    )


def wand_metrics_value(metrics: dict) -> dict:
    """Resolve accumulator-backed metrics after an action has run."""
    dec, tot = metrics.pop("_acc", (None, None))
    if dec is not None:
        metrics["decoded_blocks"] = dec.value
        metrics["total_blocks"] = tot.value
    return metrics


def bm25_topk_regexp(
    spark: SparkSession,
    index_dir: str,
    pattern: str,
    k: int = 10,
    round_to: int | None = None,
    wand_max_df_sum: int = DEFAULT_WAND_MAX_DF_SUM,
) -> DataFrame:
    """RegexpQuery (whole-term anchored regex): expand via the
    in-memory dictionary (leading literal run narrows to an FST
    subtree, zero Spark jobs), then the auto-routed disjunctive BM25
    over the expansion — the same boolean-rewrite shape as
    prefix/wildcard/fuzzy. The engine accepts Python-re syntax; gate
    oracles stick to the Python∩RE2 common subset so DuckDB's
    regexp_full_match can check the expansion independently."""
    from .term_index import regexp_stats_mem

    stats = regexp_stats_mem(index_dir, pattern)
    return _topk_expansion(spark, index_dir, stats, k, round_to, wand_max_df_sum)


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    doc_id: int,
    k: int = 10,
    max_query_terms: int = 5,
    round_to: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Lucene MoreLikeThis: select the source doc's most informative
    terms (top ``max_query_terms`` by tf·idf — idf from the INDEX's
    corpus stats, tf from the source row) and run the auto-routed
    disjunctive BM25 over that selection.

    Determinism contract (what the SQL oracle replays): selection
    ranks by (round(tf * idf, 6) DESC, term ASC) — the rounding makes
    float ties identical across engines. Term dfs come from the
    in-memory dictionaries (zero Spark jobs); the only job before the
    final query fetches ONE source row."""
    from ..functions.analysis import tokens_col

    row = (
        docs.filter(F.col(id_col) == doc_id)
        .select(tokens_col(text_col).alias("toks"))
        .collect()
    )
    if not row:
        return _empty(spark)
    from collections import Counter

    tfs = Counter(row[0].toks)
    stats = global_stats(index_dir)
    dfs = doc_freqs_mem(index_dir, tfs)
    scored_terms = [
        (-round(tf * idf(stats["n_docs"], dfs[term]), 6), term)
        for term, tf in tfs.items()
        if term in dfs
    ]
    scored_terms.sort()
    sel = [t for _, t in scored_terms[:max_query_terms]]
    if not sel:
        return _empty(spark)
    return bm25_topk_auto(spark, index_dir, sorted(sel), "or", k, round_to=round_to)


def norms_df(spark: SparkSession, index_dir: str) -> DataFrame:
    """(doc_id, dl) across live segments — the doc-values/norms table
    (Lucene .nvd analogue; dl is also inlined per posting block, this
    is the standalone column for doc-keyed joins)."""
    paths = [
        seg.segment_paths(index_dir, r["segment"])["norms"]
        for r in seg.list_segments(index_dir)
    ]
    return spark.read.parquet(*paths).select("doc_id", "dl")


def bm25_topk_phrase(
    spark: SparkSession,
    index_dir: str,
    words: list[str],
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """Lucene PhraseQuery WITH scoring (not just counting): tf = the
    exact-phrase occurrence count from the positions stream, weight =
    the SUM of the distinct phrase terms' idfs (Lucene's PhraseWeight
    blends the terms' statistics into one SimScorer), dl from the
    norms table. Requires a with_positions build.

    Plan: the co-partitioned position-join phrase counts (rows = only
    docs containing the phrase) BROADCAST into the norms join, so the
    corpus-wide side is a pruned doc-keyed probe; the score is a
    single product per doc (no cross-partition float sums)."""
    words = list(words)
    if not words:
        raise ValueError("empty phrase")
    stats = global_stats(index_dir)
    dfs = doc_freqs_mem(index_dir, words)
    if any(t not in dfs for t in words):
        return _empty(spark)
    w = 0.0
    for t in dict.fromkeys(words):  # distinct terms, first-seen order
        w += idf(stats["n_docs"], dfs[t])
    pc = phrase_counts_indexed_multi(spark, index_dir, words)
    joined = drop_deleted(
        norms_df(spark, index_dir).join(F.broadcast(pc), "doc_id"), index_dir
    )
    tf = F.col("n_phrase").cast("double")
    raw = F.lit(w) * tf * (K1 + 1.0) / (
        tf + K1 * (1.0 - B + B * F.col("dl") / stats["avgdl"])
    )
    score = F.round(raw, round_to) if round_to is not None else raw
    return (
        joined.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def span_first_indexed(
    spark: SparkSession, index_dir: str, term: str, end: int
) -> DataFrame:
    """SpanFirstQuery: docs where ``term`` occurs within the first
    ``end`` token positions (span end <= end, i.e. position < end for
    a single-term span — Lucene SpanFirstQuery semantics). Returns
    (doc_id, first_pos) ordered by doc_id, first_pos = the earliest
    matching position.

    Plan: the .pos stream decode is term-filtered at the scan (same
    pushdown as every positions consumer); the position predicate
    applies DURING the vectorized decode output, so only early-window
    occurrences reach the per-doc min aggregate."""
    flat = flat_positions_df(spark, index_dir, [term])
    out = (
        flat.filter(F.col("p") < end)
        .groupBy("doc_id")
        .agg(F.min("p").alias("first_pos"))
    )
    # sort AFTER the deletes anti-join (like every drop_deleted
    # consumer): ordering through a join is an implementation accident
    return drop_deleted(out, index_dir).orderBy("doc_id")


def span_near_ordered_indexed(
    spark: SparkSession,
    index_dir: str,
    first: str,
    second: str,
    slop: int = 3,
) -> DataFrame:
    """Ordered SpanNearQuery (inOrder=true): (doc_id, n_pairs) where
    ``second`` follows ``first`` with at most ``slop`` intervening
    positions (0 < p2 - p1 <= slop + 1) — the directional sibling of
    proximity_counts_indexed's unordered |p2-p1| <= w band join. Same
    plan: term-pushdown .pos decode, doc-co-partitioned range join,
    one count aggregate; sorted by doc_id after the deletes filter."""
    flat = flat_positions_df(spark, index_dir, [first, second])
    a = flat.filter(F.col("term") == first).select(
        "doc_id", F.col("p").alias("p1")
    )
    b = flat.filter(F.col("term") == second).select(
        F.col("doc_id").alias("doc_id_b"), F.col("p").alias("p2")
    )
    out = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("p2") - F.col("p1") > 0)
            & (F.col("p2") - F.col("p1") <= slop + 1),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_pairs"))
    )
    return drop_deleted(out, index_dir).orderBy("doc_id")


def span_near_unordered_indexed(
    spark: SparkSession,
    index_dir: str,
    first: str,
    second: str,
    slop: int = 3,
) -> DataFrame:
    """Unordered SpanNearQuery (inOrder=false) over two single-term
    clauses: (doc_id, n_pairs) where the two terms co-occur within
    ``slop`` intervening positions in EITHER direction
    (0 < |p2 - p1| <= slop + 1) — the symmetric band of the ordered
    variant's directional one. Same plan: term-pushdown .pos decode,
    doc-co-partitioned band join, one count aggregate."""
    flat = flat_positions_df(spark, index_dir, [first, second])
    a = flat.filter(F.col("term") == first).select(
        "doc_id", F.col("p").alias("p1")
    )
    b = flat.filter(F.col("term") == second).select(
        F.col("doc_id").alias("doc_id_b"), F.col("p").alias("p2")
    )
    gap = F.abs(F.col("p2") - F.col("p1"))
    out = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (gap > 0)
            & (gap <= slop + 1),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_pairs"))
    )
    return drop_deleted(out, index_dir).orderBy("doc_id")


def span_or_first_indexed(
    spark: SparkSession, index_dir: str, terms: list[str], end: int
) -> DataFrame:
    """SpanOrQuery feeding SpanFirst: docs where ANY of ``terms``
    occurs within the first ``end`` positions. Returns
    (doc_id, n_spans, first_pos) — the union's matching-span count in
    the window and the earliest one. The union is free: one
    term-pushdown .pos decode over all clauses (In(term, ...) at the
    scan), no per-clause pass."""
    terms = list(dict.fromkeys(terms))
    flat = flat_positions_df(spark, index_dir, terms)
    out = (
        flat.filter(F.col("p") < end)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.min("p").alias("first_pos"),
        )
    )
    return drop_deleted(out, index_dir).orderBy("doc_id")


def span_not_indexed(
    spark: SparkSession,
    index_dir: str,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
) -> DataFrame:
    """SpanNotQuery: occurrences of ``include`` that do NOT have an
    occurrence of ``exclude`` within [p - pre, p + post] (Lucene's
    SpanNotQuery with pre/post slop; pre=post=0 keeps only exact-
    overlap exclusion, impossible for distinct single terms, so
    callers normally pass a band). Returns (doc_id, n_spans) for docs
    with at least one surviving span, ordered by doc_id.

    Plan: one term-pushdown .pos decode for both terms, then a
    doc-co-partitioned ANTI band join (surviving include positions) +
    one count aggregate — the exclusion never materializes pairs."""
    flat = flat_positions_df(spark, index_dir, [include, exclude])
    a = flat.filter(F.col("term") == include).select(
        "doc_id", F.col("p").alias("p1")
    )
    b = flat.filter(F.col("term") == exclude).select(
        F.col("doc_id").alias("doc_id_b"), F.col("p").alias("p2")
    )
    survivors = a.join(
        b,
        (F.col("doc_id") == F.col("doc_id_b"))
        & (F.col("p2") >= F.col("p1") - pre)
        & (F.col("p2") <= F.col("p1") + post),
        "left_anti",
    )
    out = survivors.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    return drop_deleted(out, index_dir).orderBy("doc_id")


def phrase_prefix_counts_indexed(
    spark: SparkSession,
    index_dir: str,
    first: str,
    prefix: str,
    max_expansions: int = 50,
) -> DataFrame:
    """match_phrase_prefix: docs where ``first`` is immediately
    followed by ANY term starting with ``prefix`` (the
    search-as-you-type phrase query). Returns (doc_id, n_matches)
    ordered by doc_id.

    The prefix expands against the in-memory FST dictionary with ZERO
    Spark jobs (term_index.prefix_stats_mem), capped at
    ``max_expansions`` in term order (Lucene's default cap is 50;
    determinism = lexicographic, not df, order). Only then does the
    .pos decode run, term-filtered to first + the expansion set at the
    scan — the adjacency is the phrase band join p2 == p1 + 1."""
    from .term_index import prefix_stats_mem

    expansions = sorted(prefix_stats_mem(index_dir, prefix))[:max_expansions]
    if not expansions:
        # no dictionary term carries the prefix: empty, stable schema
        return spark.createDataFrame([], "doc_id long, n_matches long")
    flat = flat_positions_df(spark, index_dir, [first] + expansions)
    a = flat.filter(F.col("term") == first).select(
        "doc_id", F.col("p").alias("p1")
    )
    b = flat.filter(F.col("term").isin(expansions)).select(
        F.col("doc_id").alias("doc_id_b"), F.col("p").alias("p2")
    )
    out = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("p2") == F.col("p1") + 1),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
    )
    return drop_deleted(out, index_dir).orderBy("doc_id")


def span_multi_near_indexed(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    second: str,
    slop: int = 3,
    max_expansions: int = 50,
) -> DataFrame:
    """SpanMultiTermQueryWrapper: a multi-term query (here a
    PrefixQuery) lifted into the span algebra and composed under an
    ordered SpanNear — docs where ANY term starting with ``prefix`` is
    followed by ``second`` within ``slop`` intervening positions
    (0 < p2 - p1 <= slop + 1). Returns (doc_id, n_pairs) ordered by
    doc_id. The generalization of phrase_prefix_counts_indexed (its
    adjacency is the slop=0 band with the expansion as the SECOND
    leg); here the expansion is the FIRST leg and the band is sloppy.

    The prefix expands against the in-memory FST dictionary with ZERO
    Spark jobs, capped at ``max_expansions`` in LEXICOGRAPHIC order
    (the engine-wide expansion determinism contract — the oracle
    re-derives the same cap from distinct corpus terms). Only then
    does the .pos decode run, term-filtered to expansion + second at
    the scan; the union of expansion positions is free (one decode,
    In(term,...) pushdown), the near is the usual doc-co-partitioned
    band join + one count aggregate."""
    from .term_index import prefix_stats_mem

    expansions = sorted(prefix_stats_mem(index_dir, prefix))[:max_expansions]
    if not expansions:
        return spark.createDataFrame([], "doc_id long, n_pairs long")
    flat = flat_positions_df(spark, index_dir, expansions + [second])
    a = flat.filter(F.col("term").isin(expansions)).select(
        "doc_id", F.col("p").alias("p1")
    )
    b = flat.filter(F.col("term") == second).select(
        F.col("doc_id").alias("doc_id_b"), F.col("p").alias("p2")
    )
    out = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("p2") - F.col("p1") > 0)
            & (F.col("p2") - F.col("p1") <= slop + 1),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_pairs"))
    )
    return drop_deleted(out, index_dir).orderBy("doc_id")


def _minimal_ordered_intervals(
    spark: SparkSession, index_dir: str, first: str, second: str, max_gaps: int
) -> DataFrame:
    """Minimal ordered intervals of (``first``, ``second``) per doc:
    (doc_id, p1, p2) pairs under Lucene's intervals-module
    minimal-interval semantics (an interval matches only if it does
    not contain another matching interval), gap-filtered to
    p2 - p1 - 1 <= max_gaps (Intervals.maxgaps over
    Intervals.ordered).

    For two distinct single-term clauses the lazy minimization
    algorithm collapses to two aggregates after a band join:

      1. per ``second`` occurrence, keep the CLOSEST preceding
         ``first`` (max p1 < p2) — any farther p1 forms an interval
         that strictly contains [max_p1, p2];
      2. per surviving p1, keep the EARLIEST p2 (min) — two seconds
         snapping to the same first nest, and the later one contains
         the earlier.

    Band-limiting the join to the gap window BEFORE step 1 is exact:
    the overall-closest p1 has the smallest gap of all candidates for
    its p2, so if it falls outside the window every other candidate
    does too and the interval is gap-filtered either way.

    Plan: one term-pushdown .pos decode (In(term,...) at the scan),
    doc-co-partitioned band join, two partial-agg group-bys on the
    same doc_id key — no per-doc Python, no full-position cross
    product."""
    flat = flat_positions_df(spark, index_dir, [first, second])
    a = flat.filter(F.col("term") == first).select(
        "doc_id", F.col("p").alias("p1")
    )
    b = flat.filter(F.col("term") == second).select(
        F.col("doc_id").alias("doc_id_b"), F.col("p").alias("p2")
    )
    pairs = a.join(
        b,
        (F.col("doc_id") == F.col("doc_id_b"))
        & (F.col("p2") - F.col("p1") > 0)
        & (F.col("p2") - F.col("p1") <= max_gaps + 1),
    )
    closest = pairs.groupBy("doc_id", "p2").agg(F.max("p1").alias("p1"))
    return closest.groupBy("doc_id", "p1").agg(F.min("p2").alias("p2"))


def intervals_ordered_indexed(
    spark: SparkSession,
    index_dir: str,
    first: str,
    second: str,
    max_gaps: int = 6,
) -> DataFrame:
    """Intervals.maxgaps(max_gaps, Intervals.ordered(first, second))
    as a per-doc aggregate: (doc_id, n_intervals, min_width) where
    n_intervals counts MINIMAL intervals (Lucene intervals-module
    semantics — not all pairs, unlike SpanNear's n_pairs) and
    min_width is the narrowest matching interval's width
    (p2 - p1 + 1). Ordered by doc_id (unique)."""
    iv = _minimal_ordered_intervals(spark, index_dir, first, second, max_gaps)
    out = iv.groupBy("doc_id").agg(
        F.count("*").alias("n_intervals"),
        F.min(F.col("p2") - F.col("p1") + F.lit(1)).alias("min_width"),
    )
    return drop_deleted(out, index_dir).orderBy("doc_id")


def intervals_containing_indexed(
    spark: SparkSession,
    index_dir: str,
    first: str,
    second: str,
    inner: str,
    max_gaps: int = 6,
) -> DataFrame:
    """Intervals.containing / not_containing over the minimal ordered
    (first, second) intervals: per doc, how many minimal intervals
    contain an occurrence of ``inner`` (n_containing) and how many do
    not (n_not_containing). Containment is positional:
    p1 <= p_inner <= p2 (the outer interval covers the single-token
    inner interval). Ordered by doc_id (unique).

    Plan: the minimal-interval frame (already doc-partitioned) left-
    joins the inner term's positions with a doc-co-partitioned range
    predicate; one boolean max per interval, then one per-doc sum —
    inner occurrences never fan out past their covering intervals."""
    iv = _minimal_ordered_intervals(spark, index_dir, first, second, max_gaps)
    flat_c = flat_positions_df(spark, index_dir, [inner]).select(
        F.col("doc_id").alias("doc_id_c"), F.col("p").alias("pc")
    )
    tagged = (
        iv.join(
            flat_c,
            (F.col("doc_id") == F.col("doc_id_c"))
            & (F.col("pc") >= F.col("p1"))
            & (F.col("pc") <= F.col("p2")),
            "left",
        )
        .groupBy("doc_id", "p1", "p2")
        .agg(F.max(F.col("pc").isNotNull()).alias("has_inner"))
    )
    out = tagged.groupBy("doc_id").agg(
        F.sum(F.col("has_inner").cast("long")).alias("n_containing"),
        F.sum((~F.col("has_inner")).cast("long")).alias("n_not_containing"),
    )
    return drop_deleted(out, index_dir).orderBy("doc_id")


def intervals_unordered_indexed(
    spark: SparkSession,
    index_dir: str,
    first: str,
    second: str,
    max_gaps: int = 6,
) -> DataFrame:
    """Intervals.maxgaps(max_gaps, Intervals.unordered(first, second))
    under minimal-interval semantics: (doc_id, n_intervals, min_width)
    ordered by doc_id.

    For two DISTINCT single-term clauses the minimal unordered
    intervals are exactly the label-alternating ADJACENT pairs of the
    doc's merged position list: if any occurrence of either term lay
    strictly inside a candidate [l, r], pairing it with whichever
    endpoint has the other label yields a strictly nested candidate,
    so [l, r] is not minimal; conversely an alternating adjacent pair
    contains no other occurrence and nothing can nest inside it
    (fuzzed against generic containment minimality in
    tests/test_intervals.py).

    Plan: one term-pushdown .pos decode for both clauses, one window
    lag per doc partition (the same doc-key shuffle any per-doc agg
    needs — position lists are per-doc short), then the gap filter
    and one count aggregate."""
    from pyspark.sql import Window

    flat = flat_positions_df(spark, index_dir, [first, second]).filter(
        F.col("term").isin([first, second])
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    adj = (
        flat.withColumn("prev_p", F.lag("p").over(w))
        .withColumn("prev_term", F.lag("term").over(w))
        .filter(
            F.col("prev_term").isNotNull()
            & (F.col("prev_term") != F.col("term"))
            & (F.col("p") - F.col("prev_p") <= max_gaps + 1)
        )
    )
    out = adj.groupBy("doc_id").agg(
        F.count("*").alias("n_intervals"),
        F.min(F.col("p") - F.col("prev_p") + F.lit(1)).alias("min_width"),
    )
    return drop_deleted(out, index_dir).orderBy("doc_id")


def search_sort_by_field_indexed(
    spark: SparkSession,
    index_dir: str,
    field_docs: DataFrame,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    field_col: str = "n_chars",
    k: int = 10,
    ascending: bool = False,
) -> DataFrame:
    """Lucene Sort / TopFieldDocs (``IndexSearcher.search(query, n,
    Sort)``, reference surface: the search API the codec feeds —
    /root/reference has no searcher, this completes it per SURVEY §2.5):
    top-k of the filter-context match set ordered by a doc-values FIELD
    instead of relevance. No scoring anywhere — the classic
    sort-by-date/price listing query.

    Plan: the unscored match set (doc-id-stream-only postings scan, one
    doc_id shuffle) joins the doc-values column (2-column pruned scan)
    on doc_id, then ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject — per-partition heaps + driver merge of k
    rows, never a global sort shuffle. The doc_id tie-break makes the
    order total, so pagination cursors and the gate hash are
    deterministic."""
    matches = matching_docs_indexed(spark, index_dir, must, should, must_not)
    dv = field_docs.select(F.col("doc_id"), F.col(field_col))
    key = F.asc(field_col) if ascending else F.desc(field_col)
    return (
        matches.join(dv, "doc_id")
        .orderBy(key, F.asc("doc_id"))
        .limit(k)
        .select("doc_id", field_col)
    )


def span_containing_indexed(
    spark: SparkSession,
    index_dir: str,
    first: str,
    second: str,
    inner: str,
    slop: int = 3,
) -> DataFrame:
    """SpanContainingQuery: spans of `big` = ordered near(first,
    second, slop) that CONTAIN an occurrence of ``inner`` (Lucene
    containment over [start, end) spans: p1 <= p <= p2 for the
    single-term little span). Returns (doc_id, n_spans) — the count
    of DISTINCT containing big spans — ordered by doc_id.

    Plan: ONE term-pushdown .pos decode for all three terms, the
    ordered-near band join forms big spans, then a left-semi position
    join keeps spans containing an inner hit — pairs beyond the
    containment check never materialize."""
    flat = flat_positions_df(spark, index_dir, [first, second, inner])
    a = flat.filter(F.col("term") == first).select("doc_id", F.col("p").alias("p1"))
    b = flat.filter(F.col("term") == second).select(
        F.col("doc_id").alias("doc_id_b"), F.col("p").alias("p2")
    )
    big = a.join(
        b,
        (F.col("doc_id") == F.col("doc_id_b"))
        & (F.col("p2") - F.col("p1") > 0)
        & (F.col("p2") - F.col("p1") <= slop + 1),
    ).select("doc_id", "p1", "p2")
    inn = flat.filter(F.col("term") == inner).select(
        F.col("doc_id").alias("doc_id_i"), F.col("p").alias("pi")
    )
    containing = big.join(
        inn,
        (F.col("doc_id") == F.col("doc_id_i"))
        & (F.col("pi") >= F.col("p1"))
        & (F.col("pi") <= F.col("p2")),
        "left_semi",
    )
    # big rows are already distinct (p1, p2) pairs — positions are
    # unique per term — and the semi-join preserves that; no distinct
    # (it would add a shuffle)
    out = containing.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    return drop_deleted(out, index_dir).orderBy("doc_id")


def span_within_indexed(
    spark: SparkSession,
    index_dir: str,
    inner: str,
    first: str,
    second: str,
    slop: int = 3,
) -> DataFrame:
    """SpanWithinQuery: occurrences of ``inner`` that sit WITHIN a
    span of big = ordered near(first, second, slop) — the dual of
    span_containing (little survives instead of big). Returns
    (doc_id, n_spans, first_pos) over surviving inner occurrences,
    ordered by doc_id. Same single-decode + semi-join plan."""
    flat = flat_positions_df(spark, index_dir, [first, second, inner])
    a = flat.filter(F.col("term") == first).select(
        F.col("doc_id").alias("doc_id_a"), F.col("p").alias("p1")
    )
    b = flat.filter(F.col("term") == second).select(
        F.col("doc_id").alias("doc_id_b"), F.col("p").alias("p2")
    )
    big = a.join(
        b,
        (F.col("doc_id_a") == F.col("doc_id_b"))
        & (F.col("p2") - F.col("p1") > 0)
        & (F.col("p2") - F.col("p1") <= slop + 1),
    ).select(F.col("doc_id_a"), "p1", "p2")
    inn = flat.filter(F.col("term") == inner).select("doc_id", F.col("p").alias("pi"))
    within = inn.join(
        big,
        (F.col("doc_id") == F.col("doc_id_a"))
        & (F.col("pi") >= F.col("p1"))
        & (F.col("pi") <= F.col("p2")),
        "left_semi",
    )
    out = within.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"), F.min("pi").alias("first_pos")
    )
    return drop_deleted(out, index_dir).orderBy("doc_id")
