"""Deletes (Lucene liveDocs semantics): results filter immediately on
every physical plan; df/N/avgdl still include deleted docs until a
purging merge rewrites the segment — then the docs are physically gone
and the deletes files shrink."""

import glob

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocaml_lucene_spark.index.build import assign_doc_ids, build_index
from ocaml_lucene_spark.index.deletes import delete_docs, deleted_ids
from ocaml_lucene_spark.oracle import OracleIndex


@pytest.fixture()
def built(spark, tiny_corpus, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index_del"))
    docs = assign_doc_ids(spark.read.parquet(tiny_corpus)).select("doc_id", "text").cache()
    build_index(docs, index_dir, n_partitions=4)
    texts = {r.doc_id: r.text for r in docs.collect()}
    return index_dir, OracleIndex.from_texts(texts)


def _top(df):
    return [(r.doc_id, r.score) for r in df.collect()]


def test_deletes_filter_all_plans_stats_unchanged(spark, built):
    from ocaml_lucene_spark.query.exec import (
        bm25_topk_indexed,
        bm25_topk_wand_exec,
        bm25_topk_wand_parallel,
        count_matching_indexed,
        global_stats,
        matching_docs_indexed,
    )
    from ocaml_lucene_spark.query.term_index import doc_freqs_mem

    index_dir, oracle = built
    terms = sorted(oracle.term_stats(), key=lambda t: -oracle.term_stats()[t][0])[:2]
    before = _top(bm25_topk_indexed(spark, index_dir, terms, "or", 10, round_to=4))
    assert len(before) == 10
    # delete the top 3 docs
    victims = [d for d, _ in before[:3]]
    delete_docs(index_dir, victims)
    assert set(deleted_ids(index_dir)) == set(victims)

    # stats unchanged (Lucene: docFreq includes deleted docs until merge)
    assert global_stats(index_dir)["n_docs"] == oracle.n_docs
    assert doc_freqs_mem(index_dir, terms)[terms[0]] == oracle.term_stats()[terms[0]][0]

    got_ix = _top(bm25_topk_indexed(spark, index_dir, terms, "or", 10, round_to=4))
    got_wand = _top(bm25_topk_wand_exec(spark, index_dir, terms, "or", 10, round_to=4))
    got_par = _top(bm25_topk_wand_parallel(spark, index_dir, terms, "or", 10, round_to=4))
    assert got_ix == got_wand == got_par
    assert not set(victims) & {d for d, _ in got_ix}
    # scores of surviving docs identical to pre-delete ranking tail
    before_minus = [(d, s) for d, s in before if d not in set(victims)]
    assert got_ix[: len(before_minus)] == before_minus

    # filter context + count also respect deletes
    m = {r.doc_id for r in matching_docs_indexed(spark, index_dir, should=terms).collect()}
    assert not set(victims) & m
    n = count_matching_indexed(spark, index_dir, should=terms).collect()[0].n_hits
    assert n == len(m)


def test_merge_purges_deleted_docs(spark, built, check_terms):
    from ocaml_lucene_spark.index.merge import merge_segments
    from ocaml_lucene_spark.index.segments import list_segments
    from ocaml_lucene_spark.query.exec import (
        bm25_topk_indexed,
        global_stats,
        term_doc_ids_df,
    )

    index_dir, oracle = built
    terms = sorted(oracle.term_stats(), key=lambda t: -oracle.term_stats()[t][0])[:2]
    before = _top(bm25_topk_indexed(spark, index_dir, terms, "or", 10, round_to=4))
    victims = [d for d, _ in before[:2]]
    delete_docs(index_dir, victims)

    segs = [r["segment"] for r in list_segments(index_dir)]
    merge_segments(spark, index_dir, segs, n_partitions=4)

    # physically gone: postings + norms + deletes files
    all_ids = {
        r.doc_id for r in term_doc_ids_df(spark, index_dir, terms).collect()
    }
    assert not set(victims) & all_ids
    assert deleted_ids(index_dir).size == 0
    check_terms(index_dir)
    assert global_stats(index_dir)["n_docs"] == oracle.n_docs - len(victims)

    # post-merge ranking: scores change (stats now exclude purged
    # docs) but the victims never reappear
    got = _top(bm25_topk_indexed(spark, index_dir, terms, "or", 10, round_to=4))
    assert not set(victims) & {d for d, _ in got}
