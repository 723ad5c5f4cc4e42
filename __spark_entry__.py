"""Driver contract for the spark-graft builder (PySpark target).

entry(spark): flagship BM25 disjunctive top-k over sf0.001 documents.
queries(): one callable per implemented operator (SURVEY.md §2).
oracle_sql(): DuckDB-equivalent SQL per query key.

Column names are aliased identically on both sides; float scores are
rounded to 4 decimals on both sides before the driver's value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# Queries with no inherent ranking order (stats tables, pair lists,
# per-doc features) get a CANONICAL output order on BOTH sides — the
# driver's value hash is order-sensitive (bigram_collocations r4
# hash-failed on row order alone), so every gate row must order its
# output deterministically. Spark side: sort by all columns
# left-to-right; oracle side: ORDER BY ALL (same left-to-right
# semantics in DuckDB). Ranked queries (BM25 top-k & co) are excluded —
# they already order by (score DESC, doc_id) on both sides.
_CANON_ORDER = {
    "dedup_exact", "streamed_dedup", "fingerprints", "docs_matching_filter",
    "minhash_signatures", "minhash_candidate_pairs", "ngram_jaccard_pairs",
    "near_dup_pairs", "simhash_signatures", "simhash_near_pairs",
    "term_stats", "term_stats_fst", "term_stats_prefix", "term_stats_range",
    "term_postings", "term_offsets", "highlight_topk",
    "phrase_counts", "phrase3_counts", "proximity_counts",
    "phrase_counts_indexed", "phrase3_counts_indexed",
    "proximity_counts_indexed", "multi_phrase_counts",
}


def _canonical(fn):
    def run(spark, sf):
        df = fn(spark, sf)
        out = df.orderBy(*[F.col(c).asc_nulls_first() for c in df.columns])
        # keep the operator's staging persists releasable through the
        # sort (dedup.unpersist_staging reads this attribute)
        out._olspark_persisted = getattr(df, "_olspark_persisted", [])
        return out

    return run


def _canon_sql(sql: str) -> str:
    return f"SELECT * FROM (\n{sql}\n) __canon ORDER BY ALL NULLS FIRST"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ocaml_lucene_spark.query.bm25 import bm25_topk

    docs = _docs(spark, "/root/testdata/sf0.001")
    return bm25_topk(docs, ["spark", "query", "dup"], mode="or", k=10, round_to=4)


# --------------------------------------------------------------------
# query registry: each entry returns a DataFrame given (spark, sf_dir)
# --------------------------------------------------------------------

_INDEX_CACHE: dict[tuple[str, bool], str] = {}


def _ensure_index(
    spark: SparkSession, sf_dir: str, positions: bool = False, offsets: bool = False
) -> str:
    """Build (or resume) a packed segment index over the documents table.
    Checkpoint fingerprints make repeat calls near-free."""
    import hashlib

    from ocaml_lucene_spark.index.build import build_index

    import ocaml_lucene_spark as pkg

    # version-keyed so a format change never resumes onto stale shards
    key = hashlib.md5(
        f"{pkg.__version__}|{sf_dir}|pos{int(positions)}|off{int(offsets)}".encode()
    ).hexdigest()[:10]
    index_dir = f"/tmp/olspark_entry_index_{key}"
    cache_key = (sf_dir, positions, offsets)
    if cache_key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        build_index(
            docs, index_dir, segment="docs", n_partitions=8,
            with_positions=positions, with_offsets=offsets,
        )
        _INDEX_CACHE[cache_key] = index_dir
    return index_dir


def _ensure_merged_index(spark: SparkSession, sf_dir: str) -> str:
    """Three doc-disjoint segments -> tiered merge to ONE segment.
    The gate query over the merged index must match the same SQL oracle
    as the logical path — merge is a pure layout operation."""
    import hashlib

    from ocaml_lucene_spark.index.build import build_index
    from ocaml_lucene_spark.index.merge import maybe_merge
    from ocaml_lucene_spark.index.segments import list_segments

    import ocaml_lucene_spark as pkg

    key = hashlib.md5(f"{pkg.__version__}|{sf_dir}|merged".encode()).hexdigest()[:10]
    index_dir = f"/tmp/olspark_entry_merged_{key}"
    cache_key = (sf_dir, "merged")
    if cache_key not in _INDEX_CACHE:
        import shutil

        def build() -> list[dict]:
            docs = _docs(spark, sf_dir).select("doc_id", "text")
            for i in range(3):
                build_index(
                    docs.filter(F.col("doc_id") % 3 == i), index_dir,
                    segment=f"part{i}", n_partitions=4,
                )
            maybe_merge(spark, index_dir, merge_factor=3, n_partitions=4)
            return list_segments(index_dir)

        live = list_segments(index_dir) or build()
        if len(live) != 1 or live[0].get("source") != "merge":
            # a previous process died mid-build: wipe and rebuild once
            shutil.rmtree(index_dir, ignore_errors=True)
            live = build()
        if len(live) != 1 or live[0].get("source") != "merge":
            raise AssertionError(f"tiered merge did not run: {live}")
        _INDEX_CACHE[cache_key] = index_dir
    return index_dir


def _ensure_streamed_index(spark: SparkSession, sf_dir: str) -> str:
    """Structured-Streaming ingestion (availableNow, one file per
    micro-batch -> one segment per batch). The gate query over the
    streamed index must match the batch SQL oracle."""
    import hashlib
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocaml_lucene_spark.index.segments import list_segments
    from ocaml_lucene_spark.streaming.incremental import start_incremental_indexer

    import ocaml_lucene_spark as pkg

    key = hashlib.md5(f"{pkg.__version__}|{sf_dir}|streamed".encode()).hexdigest()[:10]
    index_dir = f"/tmp/olspark_entry_streamed_{key}"
    cache_key = (sf_dir, "streamed")
    if cache_key not in _INDEX_CACHE:
        import shutil

        def build() -> list[dict]:
            src = f"{index_dir}_src"
            os.makedirs(src, exist_ok=True)
            t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
            ids = np.asarray(t.column("doc_id").to_numpy())
            for i in range(3):
                part = t.filter(pa.array(ids % 3 == i))
                pq.write_table(part, os.path.join(src, f"batch{i}.parquet"))
            q = start_incremental_indexer(
                spark, src, index_dir, schema="doc_id long, text string",
                assign_ids=False, max_files_per_trigger=1, n_partitions=4,
            )
            q.awaitTermination()
            return list_segments(index_dir)

        live = list_segments(index_dir) or build()
        if len(live) < 2:
            # a previous process died mid-stream: wipe and rebuild once
            shutil.rmtree(index_dir, ignore_errors=True)
            shutil.rmtree(f"{index_dir}_src", ignore_errors=True)
            live = build()
        if len(live) < 2:
            raise AssertionError(f"expected multiple streamed segments: {live}")
        _INDEX_CACHE[cache_key] = index_dir
    return index_dir


def _ensure_title_index(spark: SparkSession, sf_dir: str, title_len: int = 8) -> str:
    """Per-field index for the derived 'title' field (first
    ``title_len`` tokens) — a Lucene field is its own posting space,
    so it gets its own segment directory with its own df/avgdl."""
    import hashlib

    from pyspark.sql import functions as F

    from ocaml_lucene_spark.functions.analysis import tokens_col
    from ocaml_lucene_spark.index.build import build_index

    import ocaml_lucene_spark as pkg

    key = hashlib.md5(
        f"{pkg.__version__}|{sf_dir}|title{title_len}".encode()
    ).hexdigest()[:10]
    index_dir = f"/tmp/olspark_entry_title_{key}"
    cache_key = (sf_dir, "title", title_len)
    if cache_key not in _INDEX_CACHE:
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.array_join(F.slice(tokens_col("text"), 1, title_len), " ").alias("text"),
        )
        build_index(docs, index_dir, segment="title", n_partitions=8)
        _INDEX_CACHE[cache_key] = index_dir
    return index_dir


_QUERY_VEC_CACHE: dict[tuple, list] = {}


def _query_vec(sf_dir: str, vec_id: int = 0) -> list[float]:
    # slice ONE row out of the arrow column instead of converting all
    # n_vecs x 64 floats to Python objects (r9: that to_pylist() cost
    # ~1.2s at sf1 and ran at CONSTRUCTION of every ann/rescore/rrf
    # query, inside the timed region). Same floats — to_pylist on the
    # slice performs the identical arrow->double conversion. Cached per
    # (sf_dir, vec_id) like _KMEANS_CACHE: the testdata is immutable
    # input, the vector is a query constant, and no query RESULT is
    # ever cached.
    key = (sf_dir, vec_id)
    if key not in _QUERY_VEC_CACHE:
        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        )
        idx = t.column("vec_id").to_pylist().index(vec_id)
        _QUERY_VEC_CACHE[key] = t.column("embedding").slice(idx, 1).to_pylist()[0]
    return _QUERY_VEC_CACHE[key]


def _ivf_centroids(sf_dir: str, k: int = 4) -> list[list[float]]:
    """Deterministic coarse quantizer: embeddings of the k smallest
    vec_ids (a k-means job supplies these on a real pipeline)."""
    key = (sf_dir, k, "ivf_seed")
    if key not in _QUERY_VEC_CACHE:
        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        )
        ids = t.column("vec_id").to_pylist()
        order = sorted(range(len(ids)), key=lambda i: ids[i])[:k]
        emb = t.column("embedding")
        _QUERY_VEC_CACHE[key] = [
            list(emb.slice(i, 1).to_pylist()[0]) for i in order
        ]
    return _QUERY_VEC_CACHE[key]


def _needs_build(path: str, marker: str = "_SUCCESS") -> bool:
    """True if ``path`` must be (re)built: missing, or missing its
    completion marker — a process killed mid-write leaves a partial
    directory that would otherwise be served forever. Partial dirs are
    wiped here (the same wipe-and-rebuild self-heal as
    _ensure_merged_index). Spark parquet writes commit _SUCCESS;
    streaming sinks use an explicit marker written after
    awaitTermination."""
    import os
    import shutil

    if os.path.exists(os.path.join(path, marker)):
        return False
    shutil.rmtree(path, ignore_errors=True)
    return True


_KMEANS_CACHE: dict[tuple, list[list[float]]] = {}


def _ivf_kmeans_centroids(sf_dir: str, k: int = 4, n_iters: int = 3) -> list[list[float]]:
    """Trained coarse quantizer: deterministic Lloyd k-means (fixed
    init, tie-break, per-iteration rounding — see
    operators/ann.kmeans_centroids_local), so the DuckDB oracle can
    replay cell assignment from the same centroid literals."""
    key = (sf_dir, k, n_iters)
    if key not in _KMEANS_CACHE:
        import pyarrow.parquet as pq

        from ocaml_lucene_spark.operators.ann import kmeans_centroids_local

        t = pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        )
        _KMEANS_CACHE[key] = kmeans_centroids_local(
            t.column("embedding").to_pylist(),
            t.column("vec_id").to_pylist(),
            k,
            n_iters,
        )
    return _KMEANS_CACHE[key]


def _vwh_centroids(sf_dir: str, k: int = 6, n_iters: int = 8) -> list[int]:
    """Trained 1-D value-cluster centroids for variable_width_histogram
    — pyarrow path (no Spark), so the oracle can bake the same integer
    micro-unit literals. The engine closure trains its own copy via
    the Spark histogram collect; both feed the identical
    (unit value -> count) histogram into grouping.vwh_centroids, so
    the literals agree by construction (2-decimal values never sit on
    a .5 rounding boundary after *100)."""
    key = (sf_dir, k, n_iters, "vwh")
    if key not in _KMEANS_CACHE:
        from collections import Counter

        import pyarrow.parquet as pq

        from ocaml_lucene_spark.query.grouping import vwh_centroids

        vals = pq.read_table(
            f"{sf_dir}/events.parquet", columns=["value"]
        ).column("value").to_pylist()
        hist = Counter(round(v * 100) for v in vals)
        _KMEANS_CACHE[key] = vwh_centroids(dict(hist), k=k, n_iters=n_iters)
    return _KMEANS_CACHE[key]


def queries(ordered: bool = True) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """ordered=True (the driver's contract) wraps every _CANON_ORDER
    entry in the canonical all-columns sort the order-sensitive value
    hash needs. bench.py passes ordered=False: the sort exists ONLY for
    the gate hash, and timing it would fold a gate artifact into the
    operator benchmarks (term_stats, dedup_exact, ... would each pay a
    phantom global sort)."""
    from ocaml_lucene_spark.functions import textstats
    from ocaml_lucene_spark.operators import ann, dedup
    from ocaml_lucene_spark.query import bm25

    def q_bm25_or(spark, sf):
        return bm25.bm25_topk(_docs(spark, sf), ["spark", "query", "dup"], "or", 10, round_to=4)

    def q_bm25_and(spark, sf):
        return bm25.bm25_topk(_docs(spark, sf), ["join", "hash", "scan"], "and", 10, round_to=4)

    def q_bm25_single_rare(spark, sf):
        return bm25.bm25_topk(_docs(spark, sf), ["dup"], "or", 100, round_to=4)

    def q_bm25_or_with_absent(spark, sf):
        return bm25.bm25_topk(_docs(spark, sf), ["spark", "zzzabsent"], "or", 10, round_to=4)

    def q_bm25_and_absent_empty(spark, sf):
        return bm25.bm25_topk(_docs(spark, sf), ["spark", "zzzabsent"], "and", 10, round_to=4)

    def q_bm25_not(spark, sf):
        # NOT clause, logical path: left_anti on the excluded term's docs
        return bm25.bm25_topk(
            _docs(spark, sf), ["spark", "query"], "or", 10, round_to=4,
            exclude=["dup"],
        )

    def q_bm25_bool(spark, sf):
        # BooleanQuery: must=[table], should=[dup, spark] — results
        # contain 'table', optional terms add score (logical path)
        return bm25.bm25_topk_bool(
            _docs(spark, sf), must=["table"], should=["dup", "spark"],
            k=10, round_to=4,
        )

    def q_bm25_bool_msm(spark, sf):
        # minimumNumberShouldMatch: must=[table], at least 1 of the 2
        # should terms must also hit
        return bm25.bm25_topk_bool(
            _docs(spark, sf), must=["table"], should=["dup", "spark"],
            k=10, round_to=4, min_should_match=1,
        )

    def q_bm25_bool_wand(spark, sf):
        # same BooleanQuery inside the WAND task: coverage pivots on the
        # must terms, should lists score and bound
        from ocaml_lucene_spark.query.exec import bm25_topk_wand_exec

        return bm25_topk_wand_exec(
            spark, _ensure_index(spark, sf), ["table", "dup", "spark"],
            k=10, round_to=4, must=["table"],
        )

    def q_bm25_bool_indexed(spark, sf):
        from ocaml_lucene_spark.query.exec import bm25_topk_indexed

        return bm25_topk_indexed(
            spark, _ensure_index(spark, sf), ["table", "dup", "spark"],
            k=10, round_to=4, must=["table"],
        )

    def q_bm25_lang_filtered(spark, sf):
        # composition: parquet predicate pushdown (lang='en') under the
        # scoring pipeline — corpus stats are over the filtered subset
        docs = _docs(spark, sf).filter(F.col("lang") == "en")
        return bm25.bm25_topk(docs, ["spark", "query"], "or", 10, round_to=4)

    def q_docs_matching_filter(spark, sf):
        # ConstantScoreQuery / filter context: the unscored match set
        # (must=table, must_not=dup) — tf/dl columns pruned at the scan
        from ocaml_lucene_spark.query.exec import matching_docs_indexed

        return matching_docs_indexed(
            spark, _ensure_index(spark, sf), must=["table"], must_not=["dup"]
        )

    def q_total_hits(spark, sf):
        # TotalHitCountCollector: count docs matching table OR dup
        from ocaml_lucene_spark.query.exec import count_matching_indexed

        return count_matching_indexed(
            spark, _ensure_index(spark, sf), should=["table", "dup"]
        )

    def q_bm25_search_after(spark, sf):
        # search_after pagination: page 2 of the flagship OR query.
        # The Spark side runs page 1 and paginates with the cursor
        # filter; the oracle uses OFFSET — two independent mechanisms
        # that must agree on the deterministic total order.
        from ocaml_lucene_spark.query.exec import bm25_topk_indexed

        idx = _ensure_index(spark, sf)
        page1 = bm25_topk_indexed(
            spark, idx, ["spark", "query", "dup"], "or", 10, round_to=4
        ).collect()
        cursor = (page1[-1].score, page1[-1].doc_id)
        return bm25_topk_indexed(
            spark, idx, ["spark", "query", "dup"], "or", 10, round_to=4,
            after=cursor,
        )

    def q_bm25_dismax(spark, sf):
        # multi-field search: Lucene fields map to per-field index
        # dirs (title = first 8 tokens, body = full text — each with
        # its own df/avgdl), combined by DisjunctionMaxQuery with
        # tie_breaker
        from ocaml_lucene_spark.query.exec import bm25_topk_dismax

        return bm25_topk_dismax(
            spark,
            {"title": _ensure_title_index(spark, sf), "body": _ensure_index(spark, sf)},
            ["spark", "query", "dup"],
            k=10, tie_breaker=0.3, round_to=4,
        )

    def q_bm25_regexp(spark, sf):
        # RegexpQuery: anchored whole-term regex expanded via the
        # in-memory dictionary (leading literal narrows the FST walk);
        # oracle expands independently with RE2 regexp_full_match
        from ocaml_lucene_spark.query.exec import bm25_topk_regexp

        return bm25_topk_regexp(
            spark, _ensure_index(spark, sf), "s.a.*", k=10, round_to=4
        )

    def q_more_like_this(spark, sf):
        # Lucene MoreLikeThis: top-5 tf·idf terms of doc 7, then the
        # auto-routed disjunction; the oracle reselects independently
        from ocaml_lucene_spark.query.exec import more_like_this

        return more_like_this(
            spark, _ensure_index(spark, sf), _docs(spark, sf), doc_id=7,
            k=10, max_query_terms=5, round_to=4,
        )

    def q_bm25_after_delete(spark, sf):
        # liveDocs semantics: docs 1 and 3 deleted from a PRIVATE index
        # (never the shared one) — results exclude them immediately,
        # scores/stats still include them (Lucene: until a merge).
        # The oracle keeps full-corpus stats and filters the ids.
        import hashlib

        from ocaml_lucene_spark.index.build import build_index
        from ocaml_lucene_spark.index.deletes import delete_docs, deleted_ids
        from ocaml_lucene_spark.query.exec import bm25_topk_indexed

        import ocaml_lucene_spark as pkg

        key = hashlib.md5(f"{pkg.__version__}|{sf}|del".encode()).hexdigest()[:10]
        idx = f"/tmp/olspark_entry_del_{key}"
        cache_key = (sf, "deleted")
        if cache_key not in _INDEX_CACHE:
            if _needs_build(idx, marker="deletes"):
                build_index(
                    _docs(spark, sf).select("doc_id", "text"), idx,
                    segment="docs", n_partitions=8,
                )
                delete_docs(idx, [1, 3])
            _INDEX_CACHE[cache_key] = idx
        assert set(deleted_ids(idx)) == {1, 3}
        return bm25_topk_indexed(
            spark, idx, ["spark", "query", "dup"], "or", 10, round_to=4
        )

    def q_term_postings(spark, sf):
        return bm25.term_postings(_docs(spark, sf), "dup")

    def q_term_stats(spark, sf):
        return bm25.term_stats(_docs(spark, sf))

    def q_corpus_stats(spark, sf):
        return bm25.corpus_stats(_docs(spark, sf)).select(
            "n_docs", F.round("avgdl", 6).alias("avgdl")
        )

    def q_doc_lengths(spark, sf):
        from ocaml_lucene_spark.functions.analysis import doc_lengths

        return doc_lengths(_docs(spark, sf))

    def q_phrase_counts(spark, sf):
        return bm25.phrase_counts(_docs(spark, sf), "table", "hash")

    def q_bm25_phrase(spark, sf):
        # Lucene PhraseQuery WITH scoring: phrase-frequency BM25
        # (tf = exact-phrase count from the .pos stream, weight =
        # summed term idfs, dl from norms)
        from ocaml_lucene_spark.query.exec import bm25_topk_phrase

        return bm25_topk_phrase(
            spark, _ensure_index(spark, sf, positions=True),
            ["table", "hash"], k=10, round_to=4,
        )

    # --- physical paths: full segment pipeline, checked against the
    # SAME SQL oracles as the logical path -------------------------------

    def q_bm25_indexed_or(spark, sf):
        from ocaml_lucene_spark.query.exec import bm25_topk_indexed

        return bm25_topk_indexed(
            spark, _ensure_index(spark, sf), ["spark", "query", "dup"], "or", 10, round_to=4
        )

    def q_bm25_indexed_and(spark, sf):
        from ocaml_lucene_spark.query.exec import bm25_topk_indexed

        return bm25_topk_indexed(
            spark, _ensure_index(spark, sf), ["join", "hash", "scan"], "and", 10, round_to=4
        )

    def q_bm25_indexed_not(spark, sf):
        # NOT clause, physical path: anti join against decoded postings
        from ocaml_lucene_spark.query.exec import bm25_topk_indexed

        return bm25_topk_indexed(
            spark, _ensure_index(spark, sf), ["spark", "query"], "or", 10,
            round_to=4, exclude=["dup"],
        )

    def q_bm25_wand_not(spark, sf):
        # NOT clause inside the WAND task: docID-sorted leapfrog anti-join
        from ocaml_lucene_spark.query.exec import bm25_topk_wand_exec

        return bm25_topk_wand_exec(
            spark, _ensure_index(spark, sf), ["spark", "query"], "or", 10,
            round_to=4, exclude=["dup"],
        )

    def q_bm25_wand(spark, sf):
        # cluster plan: candidate blocks -> one executor task -> k rows
        # (packed payloads never touch the driver)
        from ocaml_lucene_spark.query.exec import bm25_topk_wand_exec

        return bm25_topk_wand_exec(
            spark, _ensure_index(spark, sf), ["spark", "query", "dup"], "or", 10,
            round_to=4,
        )

    def q_bm25_wand_parallel(spark, sf):
        # doc-range-parallel WAND: each task prunes within its range and
        # returns a local top-k; the union's top-k is exact
        from ocaml_lucene_spark.query.exec import bm25_topk_wand_parallel

        return bm25_topk_wand_parallel(
            spark, _ensure_index(spark, sf), ["spark", "query", "dup"], "or",
            10, round_to=4, n_tasks=4,
        )

    def q_bm25_auto(spark, sf):
        # automatic physical-plan selection: sum-of-df from the in-memory
        # FST term dictionary (zero Spark jobs) routes the query to the
        # single-task WAND plan or the distributed exhaustive plan; both
        # match the same SQL oracle, so routing is purely physical
        from ocaml_lucene_spark.query.exec import bm25_topk_auto

        return bm25_topk_auto(
            spark, _ensure_index(spark, sf), ["table", "dup"], "or", 10,
            round_to=4,
        )

    def q_term_stats_fst(spark, sf):
        # the FST TermIndex as a gate surface: the FULL terms dictionary
        # (term, df, ttf) enumerated from the in-memory minimal
        # transducer (fst/transducer.py items()), zero Spark jobs for
        # the lookup — must equal the tokenize-and-aggregate oracle
        from ocaml_lucene_spark.query.term_index import all_stats_mem

        stats = all_stats_mem(_ensure_index(spark, sf))
        return spark.createDataFrame(
            [(t, int(df), int(ttf)) for t, (df, ttf) in sorted(stats.items())],
            "term string, df long, ttf long",
        )

    def q_bm25_prefix(spark, sf):
        # PrefixQuery: FST prefix scan expands 's' -> matching terms
        # (zero Spark jobs), then auto-routed disjunctive BM25; the SQL
        # oracle expands independently via LIKE 's%'
        from ocaml_lucene_spark.query.exec import bm25_topk_prefix

        return bm25_topk_prefix(
            spark, _ensure_index(spark, sf), "s", k=10, round_to=4
        )

    def q_bm25_fuzzy(spark, sf):
        # FuzzyQuery: dictionary-scan expansion within 2 edits of
        # 'sort' (zero Spark jobs), auto-routed BM25; the oracle
        # expands independently via DuckDB levenshtein()
        from ocaml_lucene_spark.query.exec import bm25_topk_fuzzy

        return bm25_topk_fuzzy(
            spark, _ensure_index(spark, sf), "sort", max_edits=2, k=10,
            round_to=4,
        )

    def q_bm25_wildcard(spark, sf):
        # WildcardQuery 's?a*': FST-subtree expansion (zero Spark jobs),
        # auto-routed BM25; the oracle translates to LIKE independently
        from ocaml_lucene_spark.query.exec import bm25_topk_wildcard

        return bm25_topk_wildcard(
            spark, _ensure_index(spark, sf), "s?a*", k=10, round_to=4
        )

    def q_bm25_wildcard_suffix(spark, sf):
        # leading-'*' WildcardQuery '*ble': no usable literal prefix —
        # the automaton∩FST walk stays correct with zero Spark jobs but
        # the '.*' head keeps the loop state alive, so it visits the
        # full dictionary (Lucene's own leading-wildcard caveat); the
        # oracle is an independent LIKE '%ble' translation
        from ocaml_lucene_spark.query.exec import bm25_topk_wildcard

        return bm25_topk_wildcard(
            spark, _ensure_index(spark, sf), "*ble", k=10, round_to=4
        )

    def q_spell_suggest(spark, sf):
        # suggest/spellchecker: correction candidates for 'bat' via the
        # Levenshtein-automaton∩FST dictionary walk (zero Spark jobs),
        # ranked (df desc, term) — the oracle re-expands independently
        # with DuckDB's levenshtein()
        from ocaml_lucene_spark.query.suggest import spell_suggest

        return spell_suggest(spark, _ensure_index(spark, sf), "bat", max_edits=2, k=10)

    def q_bm25_collapse(spark, sf):
        # grouping/field collapse: best-scoring doc per `source` value,
        # one window over the collapse key
        from ocaml_lucene_spark.query.grouping import bm25_collapse_topk

        return bm25_collapse_topk(
            _docs(spark, sf), ["table", "hash", "dup"], "source", k=10, round_to=4
        )

    def q_facet_counts(spark, sf):
        # facet module: per-lang doc counts over the conjunctive match
        # set; integer-only
        from ocaml_lucene_spark.query.grouping import facet_counts

        return facet_counts(_docs(spark, sf), ["table", "scan"], "lang")

    def q_facet_counts_indexed(spark, sf):
        # same facets, match set from the postings doc-id stream (text
        # never read); must equal the logical path's oracle
        from ocaml_lucene_spark.query.grouping import facet_counts_indexed

        return facet_counts_indexed(
            spark, _ensure_index(spark, sf), _docs(spark, sf), ["table", "scan"], "lang"
        )

    def q_tfidf_classic(spark, sf):
        # pluggable similarity: pre-6.0 ClassicSimilarity (sqrt(tf) *
        # idf^2 / sqrt(dl), coord factor), same physical plan as BM25
        from ocaml_lucene_spark.query.similarity import tfidf_classic_topk

        return tfidf_classic_topk(
            _docs(spark, sf), ["table", "hash", "dup"], k=10, round_to=4
        )

    def q_bm25_boosted(spark, sf):
        # BoostQuery: per-term query boosts on the BM25 sum
        from ocaml_lucene_spark.query.similarity import bm25_topk_boosted

        return bm25_topk_boosted(
            _docs(spark, sf), {"table": 2.0, "hash": 0.5, "dup": 1.0}, k=10, round_to=4
        )

    def q_bm25_synonym(spark, sf):
        # SynonymQuery: {join, merge} scores as ONE pseudo-term with
        # blended stats (df = max over the set, tf = per-doc sum)
        from ocaml_lucene_spark.query.bm25 import bm25_topk_synonym

        return bm25_topk_synonym(_docs(spark, sf), ["join", "merge"], k=10, round_to=4)

    def q_bm25_numeric_range(spark, sf):
        # points/doc-values range filter (IntPoint analogue): restrict
        # the corpus to n_chars in [80, 300] BEFORE scoring — the
        # predicate pushes down to the parquet scan (zone-map pruning
        # at scale); same stats convention as the lang-filtered variant
        docs = _docs(spark, sf).filter(
            (F.col("n_chars") >= 80) & (F.col("n_chars") <= 300)
        )
        return bm25.bm25_topk(docs, ["table", "hash"], mode="or", k=10, round_to=4)

    def q_date_histogram(spark, sf):
        # aggregations surface: date_histogram over the events table
        # (bucket emitted as a string so the hash never depends on
        # timestamp-type encoding)
        from ocaml_lucene_spark.query.grouping import date_histogram

        return date_histogram(spark.read.parquet(f"{sf}/events.parquet"))

    def q_numeric_range_facet(spark, sf):
        # numeric range faceting over the n_chars doc-values column
        from ocaml_lucene_spark.query.grouping import numeric_range_facets

        return numeric_range_facets(_docs(spark, sf), "n_chars", width=50)

    def q_streamed_histogram(spark, sf):
        # watermarked windowed agg (append mode): 4 ordered micro-
        # batches — past events; recent events (advances max event
        # time); a re-delivered late copy of the earliest event; a
        # far-future sentinel that flushes every real window. The late
        # copy rides its own batch because Spark's watermark lags ONE
        # batch (batch N plans with batch N-1's max ts): a late row in
        # the same batch as its window's eviction is still merged
        # (measured on 4.1.2); one batch later it is dropped. The
        # oracle aggregates the clean batch table: if the late
        # duplicate reached the sink, its bucket would mismatch by +1.
        import hashlib
        import os

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from ocaml_lucene_spark.streaming.histogram import streaming_date_histogram

        import ocaml_lucene_spark as pkg

        key = hashlib.md5(f"{pkg.__version__}|{sf}|shist".encode()).hexdigest()[:10]
        base = f"/tmp/olspark_entry_shist_{key}"
        out = os.path.join(base, "out")
        if _needs_build(base, marker="_done"):
            src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
            os.makedirs(src, exist_ok=True)
            t = pq.read_table(f"{sf}/events.parquet")
            t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
            cut = int(t.num_rows * 0.6)
            b0, rest = t.slice(0, cut), t.slice(cut)
            late = t.slice(0, 1)  # earliest event, re-delivered late
            late = late.set_column(
                late.schema.get_field_index("event_id"),
                "event_id",
                pa.array([-1], pa.int64()),
            )
            max_ts = t.column("ts")[t.num_rows - 1].as_py()
            import datetime as _dt

            sentinel = pa.table(
                {
                    "event_id": pa.array([-2], pa.int64()),
                    "ts": pa.array([max_ts + _dt.timedelta(days=30)], pa.timestamp("us")),
                    "user_id": pa.array([0], pa.int64()),
                    "event_type": pa.array(["sentinel"]),
                    "value": pa.array([0.0], pa.float64()),
                    "props": pa.array(["{}"]),
                }
            ).cast(t.schema)
            for i, tb in enumerate((b0, rest, late, sentinel)):
                p = f"{src}/b{i}.parquet"
                pq.write_table(tb, p)
                os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
            stream = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long, "
                    "event_type string, value double, props string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                streaming_date_histogram(stream, window="1 hour", watermark="1 hour")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            with open(os.path.join(base, "_done"), "w") as f:
                f.write("ok")
        return spark.read.parquet(out).orderBy("bucket", "event_type")

    def q_streamed_sessions(spark, sf):
        # watermarked streaming sessionization (append mode): same
        # 4-batch harness as q_streamed_histogram — ordered past /
        # recent events, a re-delivered late copy in its OWN batch
        # (one-batch watermark lag: it must be dropped, not start a
        # phantom 1-event session), and a far-future sentinel under an
        # out-of-domain user (-999) whose never-closed session flushes
        # every real one. Oracle = the BATCH session_windows SQL over
        # the clean events table: stream-batch parity is the contract.
        import hashlib
        import os

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from ocaml_lucene_spark.streaming.sessions import streaming_session_windows

        import ocaml_lucene_spark as pkg

        key = hashlib.md5(f"{pkg.__version__}|{sf}|ssess".encode()).hexdigest()[:10]
        base = f"/tmp/olspark_entry_ssess_{key}"
        out = os.path.join(base, "out")
        if _needs_build(base, marker="_done"):
            src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
            os.makedirs(src, exist_ok=True)
            t = pq.read_table(f"{sf}/events.parquet")
            t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
            cut = int(t.num_rows * 0.6)
            b0, rest = t.slice(0, cut), t.slice(cut)
            late = t.slice(0, 1)
            late = late.set_column(
                late.schema.get_field_index("event_id"),
                "event_id",
                pa.array([-1], pa.int64()),
            )
            max_ts = t.column("ts")[t.num_rows - 1].as_py()
            import datetime as _dt

            sentinel = pa.table(
                {
                    "event_id": pa.array([-2], pa.int64()),
                    "ts": pa.array(
                        [max_ts + _dt.timedelta(days=30)], pa.timestamp("us")
                    ),
                    "user_id": pa.array([-999], pa.int64()),
                    "event_type": pa.array(["sentinel"]),
                    "value": pa.array([0.0], pa.float64()),
                    "props": pa.array(["{}"]),
                }
            ).cast(t.schema)
            for i, tb in enumerate((b0, rest, late, sentinel)):
                p = f"{src}/b{i}.parquet"
                pq.write_table(tb, p)
                os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
            stream = (
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long, "
                    "event_type string, value double, props string"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                streaming_session_windows(stream, gap="6 hours", watermark="1 hour")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            with open(os.path.join(base, "_done"), "w") as f:
                f.write("ok")
        return spark.read.parquet(out).orderBy("user_id", "start_us")

    def q_match_stats(spark, sf):
        # ES-style stats agg: min/max/avg of n_chars over the
        # conjunctive match set (one row; semi-join + global aggregate)
        from ocaml_lucene_spark.query.grouping import match_stats

        return match_stats(_docs(spark, sf), ["table", "scan"], "n_chars")

    def q_bm25_parent_join(spark, sf):
        # Lucene join module (ToParentBlockJoinQuery): child BM25 scores
        # rolled up per parent (source), score_mode=sum with a
        # doc_id-ordered fold on BOTH sides
        from ocaml_lucene_spark.query.grouping import bm25_parent_join_topk

        return bm25_parent_join_topk(
            _docs(spark, sf), ["table", "hash", "dup"], "source", "sum", k=10
        )

    def q_explain_score(spark, sf):
        # IndexSearcher.explain: per-term factor breakdown (tf, df, dl,
        # idf, tfn, contribution) for one document
        return bm25.explain_score(_docs(spark, sf), ["table", "hash", "dup"], doc_id=7)

    def q_complete_prefix(spark, sf):
        # completion suggester: popularity-ranked autocomplete off the
        # FST prefix subtree (zero Spark jobs); oracle re-expands via
        # LIKE independently
        from ocaml_lucene_spark.query.suggest import complete_prefix

        return complete_prefix(spark, _ensure_index(spark, sf), "s", k=10)

    def q_rescore(spark, sf):
        # QueryRescorer / retrieve-then-rerank: BM25 top-100 candidates
        # re-scored by alpha*bm25 + beta*cosine(query embedding) — the
        # lexical+dense bridge; candidates broadcast against embeddings
        from ocaml_lucene_spark.query.rescore import rescore_topk

        return rescore_topk(
            _docs(spark, sf), _vecs(spark, sf), ["table", "hash", "dup"],
            _query_vec(sf), n_first=100, k=10, alpha=1.0, beta=0.5,
        )

    def q_rrf_fusion(spark, sf):
        # hybrid search: reciprocal rank fusion of the BM25 and cosine
        # rankings (rank-based — no score-scale calibration)
        from ocaml_lucene_spark.query.rescore import rrf_fusion_topk

        return rrf_fusion_topk(
            _docs(spark, sf), _vecs(spark, sf), ["table", "hash", "dup"],
            _query_vec(sf), n_each=100, k=10,
        )

    def q_rrf_fusion_indexed(spark, sf):
        # the hybrid-fusion SCALE path: dense leg probes the persisted
        # cell-partitioned IVF layout (partition pruning — never a full
        # embeddings scan); the oracle mirrors the probe semantics via
        # the shared ivf_cells_and_probes, like ann_ivf_indexed
        import hashlib

        import ocaml_lucene_spark as pkg
        from ocaml_lucene_spark.operators import ann
        from ocaml_lucene_spark.query.rescore import rrf_fusion_topk_indexed

        cents = _ivf_kmeans_centroids(sf)
        key = hashlib.md5(f"{pkg.__version__}|{sf}|ivf".encode()).hexdigest()[:10]
        idx = f"/tmp/olspark_entry_ivf_{key}"
        if _needs_build(idx):
            ann.build_ivf_index(_vecs(spark, sf), idx, cents)
        return rrf_fusion_topk_indexed(
            _docs(spark, sf), spark, idx, cents, ["table", "hash", "dup"],
            _query_vec(sf), n_each=100, k=10, n_probe=2,
        )

    def q_span_first(spark, sf):
        # SpanFirstQuery: docs where 'table' occurs within the first 10
        # positions, from the packed .pos stream; the oracle re-derives
        # positions via DuckDB's positional parallel unnest
        from ocaml_lucene_spark.query.exec import span_first_indexed

        return span_first_indexed(
            spark, _ensure_index(spark, sf, positions=True), "table", end=10
        )

    def q_span_near_ordered(spark, sf):
        # ordered SpanNearQuery (inOrder=true): 'hash' follows 'table'
        # within slop 3 — the directional sibling of the unordered
        # proximity band join
        from ocaml_lucene_spark.query.exec import span_near_ordered_indexed

        return span_near_ordered_indexed(
            spark, _ensure_index(spark, sf, positions=True), "table", "hash", slop=3
        )

    def q_span_near_unordered(spark, sf):
        # unordered SpanNearQuery (inOrder=false): 'table' and 'scan'
        # within slop 3 in either direction — the symmetric band
        from ocaml_lucene_spark.query.exec import span_near_unordered_indexed

        return span_near_unordered_indexed(
            spark, _ensure_index(spark, sf, positions=True), "table", "scan", slop=3
        )

    def q_span_or_first(spark, sf):
        # SpanOrQuery union feeding SpanFirst: any of 'table'/'dup'
        # within the first 15 positions; one .pos decode for the union
        from ocaml_lucene_spark.query.exec import span_or_first_indexed

        return span_or_first_indexed(
            spark, _ensure_index(spark, sf, positions=True), ["table", "dup"], end=15
        )

    def q_span_not(spark, sf):
        # SpanNotQuery: 'table' occurrences with no 'dup' within +/-2
        # positions (pre=post=2) — anti band join over the .pos stream
        from ocaml_lucene_spark.query.exec import span_not_indexed

        return span_not_indexed(
            spark, _ensure_index(spark, sf, positions=True), "table", "dup",
            pre=2, post=2,
        )

    def q_span_containing(spark, sf):
        # SpanContainingQuery: ordered near(table, hash, slop=3) big
        # spans that contain a 'scan' occurrence
        from ocaml_lucene_spark.query.exec import span_containing_indexed

        return span_containing_indexed(
            spark, _ensure_index(spark, sf, positions=True),
            "table", "hash", "scan", slop=3,
        )

    def q_span_within(spark, sf):
        # SpanWithinQuery: 'scan' occurrences sitting inside an
        # ordered near(table, hash, slop=3) span — the dual
        from ocaml_lucene_spark.query.exec import span_within_indexed

        return span_within_indexed(
            spark, _ensure_index(spark, sf, positions=True),
            "scan", "table", "hash", slop=3,
        )

    def q_percentiles_agg(spark, sf):
        # percentiles agg (ES, exact mode): per-lang linear-interp
        # p50/p90/p99 of n_chars — Spark percentile() and DuckDB
        # quantile_cont share the interpolation formula (measured
        # bit-identical); positive values, plain round(.,4)
        from ocaml_lucene_spark.query.grouping import percentiles_agg

        return percentiles_agg(_docs(spark, sf))

    def q_composite_agg(spark, sf):
        # composite agg with after-key pagination: page of 10 buckets
        # strictly after ('de','src15') in (lang, source) order — the
        # after predicate pushes to the scan
        from ocaml_lucene_spark.query.grouping import composite_agg

        return composite_agg(
            _docs(spark, sf), keys=("lang", "source"),
            after=("de", "src15"), size=10,
        )

    def q_mix_proportions(spark, sf):
        # data mixing to target proportions: per-stratum acceptance
        # fractions derived from fixed-order double arithmetic
        # (scale = min(n/w); f = w*scale/n), replayed verbatim by the
        # oracle — survivor sets are bit-identical
        from ocaml_lucene_spark.operators.sampling import mix_to_proportions

        return mix_to_proportions(
            _docs(spark, sf), {"en": 1.0, "de": 1.0, "fr": 2.0}
        )

    def q_boilerplate_coverage(spark, sf):
        # boilerplate span detection (C4/RefinedWeb cleaning, k-gram
        # granularity): positions covered by a 3-gram present in >= 5
        # distinct docs; one gram-df shuffle + frequent-set join +
        # doc-co-partitioned position union — never quadratic
        from ocaml_lucene_spark.operators.boilerplate import boilerplate_coverage

        return boilerplate_coverage(_docs(spark, sf), k=3, min_df=5)

    def q_adjacency_matrix(spark, sf):
        # adjacency-matrix agg (ES): singles + pair intersections from
        # ONE tokenize pass (pair flags are products of the single
        # flags); empty buckets omitted; ordered by bucket_key (unique)
        from ocaml_lucene_spark.query.grouping import adjacency_matrix

        return adjacency_matrix(
            _docs(spark, sf),
            {"table": ["table"], "hash": ["hash"], "dup": ["dup"]},
        )

    def q_histogram_pipeline(spark, sf):
        # pipeline aggs (ES cumulative_sum + derivative) over the
        # per-event_type daily histogram: both pipeline columns fold
        # the SAME integer quantize-units the histogram keeps, so
        # they're exact in any partial-agg order; derivative (can go
        # negative) carries the +0.0 signed-zero normalization;
        # ordered (key, bucket) — a total order
        from ocaml_lucene_spark.query.grouping import date_histogram_pipeline

        return date_histogram_pipeline(spark.read.parquet(f"{sf}/events.parquet"))

    def q_bucket_selector(spark, sf):
        # ES bucket_selector (the aggregation DSL's HAVING): survival
        # compares INTEGER quantize-units to an integer threshold —
        # exact on both engines; ordered (key, bucket)
        from ocaml_lucene_spark.query.grouping import bucket_selector

        return bucket_selector(
            spark.read.parquet(f"{sf}/events.parquet"), min_sum=3300.0
        )

    def q_bucket_sort(spark, sf):
        # ES bucket_sort with from/size: total order (sum_value DESC,
        # key, bucket) over integer-units sums, offset 2 + limit 12 —
        # the cut is exact on both engines
        from ocaml_lucene_spark.query.grouping import bucket_sort

        return bucket_sort(
            spark.read.parquet(f"{sf}/events.parquet"), size=12, from_=2
        )

    def q_percentiles_bucket(spark, sf):
        # ES percentiles_bucket: exact quartiles of each key's daily
        # value sums — integer-unit bucket metrics, exact-binary
        # fractions (IEEE-identical interpolation on both engines)
        from ocaml_lucene_spark.query.grouping import percentiles_bucket

        return percentiles_bucket(spark.read.parquet(f"{sf}/events.parquet"))

    def q_cumulative_sum(spark, sf):
        # ES cumulative_sum: running total per key over the day
        # histogram — integer-units fold inside the window, one divide
        # per row; ordered (key, bucket)
        from ocaml_lucene_spark.query.grouping import cumulative_sum

        return cumulative_sum(spark.read.parquet(f"{sf}/events.parquet"))

    def q_bucket_script(spark, sf):
        # ES bucket_script (per-bucket arithmetic over sibling
        # metrics): click share + value-per-event per day bucket, both
        # ratios of exact integers via _div_round_expr; ordered by
        # bucket (unique)
        from ocaml_lucene_spark.query.grouping import bucket_script

        return bucket_script(
            spark.read.parquet(f"{sf}/events.parquet"), pick_type="click"
        )

    def q_span_multi(spark, sf):
        # SpanMultiTermQueryWrapper: PrefixQuery 'sc*' lifted into the
        # span algebra as the FIRST leg of an ordered SpanNear with
        # 'table' (slop 3) — zero-job FST expansion (lexicographic cap
        # 50), one .pos decode for expansion + second
        from ocaml_lucene_spark.query.exec import span_multi_near_indexed

        return span_multi_near_indexed(
            spark, _ensure_index(spark, sf, positions=True), "sc", "table", slop=3
        )

    def q_terms_shard_topk(spark, sf):
        # ES terms agg DISTRIBUTED semantics: per-shard top shard_size
        # (shard = doc_id % 3, cluster-size-invariant), coordinator
        # merge of returned counts only, doc_count_error_upper_bound
        # per bucket; true df always in [doc_count, doc_count + err]
        from ocaml_lucene_spark.query.grouping import terms_shard_topk

        return terms_shard_topk(_docs(spark, sf))

    def q_weighted_avg(spark, sf):
        # ES weighted_avg with the weight from the JSON props field:
        # integer numerator/denominator, quotient rounded in integer
        # arithmetic (_div_round_expr — the ratio-of-exact-integers
        # rule); get_json_object <-> json_extract bit-identical on
        # integer fields; ordered by key
        from ocaml_lucene_spark.query.grouping import weighted_avg

        return weighted_avg(spark.read.parquet(f"{sf}/events.parquet"))

    def q_top_metrics(spark, sf):
        # ES top_metrics (size=1): latest metric per key via ONE
        # groupBy carrying max(struct(ts, id, value)) — never a
        # window over raw events; ts emitted as epoch micros
        from ocaml_lucene_spark.query.grouping import top_metrics

        return top_metrics(spark.read.parquet(f"{sf}/events.parquet"))

    def q_serial_diff(spark, sf):
        # ES serial_diff (lag=7 on daily buckets = week-over-week):
        # long-units lag difference, divided back once; the signed
        # diff carries +0.0; NULL for each key's first 7 buckets
        from ocaml_lucene_spark.query.grouping import serial_diff

        return serial_diff(spark.read.parquet(f"{sf}/events.parquet"), lag=7)

    def q_intervals_unordered(spark, sf):
        # Intervals.unordered + maxgaps: minimal unordered intervals
        # are the label-alternating ADJACENT pairs of the merged
        # position list (fuzzed == generic containment minimality)
        from ocaml_lucene_spark.query.exec import intervals_unordered_indexed

        return intervals_unordered_indexed(
            spark, _ensure_index(spark, sf, positions=True), "table", "hash",
            max_gaps=6,
        )

    def q_bm25_analyzed(spark, sf):
        # analysis chain (Lucene `english`-light): StopFilter +
        # EnglishMinimalStem on BOTH sides — 'the' vanishes (stop
        # clause), 'tables' stems to 'table' and matches the stemmed
        # corpus stream whose dl counts surviving tokens (Lucene
        # norms); the oracle replays the chain via list_filter +
        # list_transform CASE
        from ocaml_lucene_spark.query.similarity import bm25_topk_analyzed

        return bm25_topk_analyzed(
            _docs(spark, sf), ["the", "tables", "hash"], k=10, round_to=4
        )

    def q_intervals_ordered(spark, sf):
        # Lucene intervals module, minimal-interval semantics:
        # Intervals.maxgaps(6, Intervals.ordered('table','hash')) —
        # counts MINIMAL intervals (not all pairs like SpanNear); the
        # oracle replays the closest-preceding/earliest-following
        # collapse in SQL (rows ordered by doc_id, unique)
        from ocaml_lucene_spark.query.exec import intervals_ordered_indexed

        return intervals_ordered_indexed(
            spark, _ensure_index(spark, sf, positions=True), "table", "hash",
            max_gaps=6,
        )

    def q_intervals_containing(spark, sf):
        # Intervals.containing / not_containing: which minimal ordered
        # ('table','hash') intervals cover a 'dup' occurrence
        from ocaml_lucene_spark.query.exec import intervals_containing_indexed

        return intervals_containing_indexed(
            spark, _ensure_index(spark, sf, positions=True), "table", "hash",
            "dup", max_gaps=6,
        )

    def q_phrase_prefix(spark, sf):
        # match_phrase_prefix: 'hash' immediately followed by any
        # dictionary term starting with 'ta' — zero-job FST expansion
        # (lexicographic, capped 50) then the phrase adjacency join
        from ocaml_lucene_spark.query.exec import phrase_prefix_counts_indexed

        return phrase_prefix_counts_indexed(
            spark, _ensure_index(spark, sf, positions=True), "hash", "ta"
        )

    def q_top_hits_grouped(spark, sf):
        # terms agg + top_hits sub-agg: per lang, the 2 best-scoring
        # matches of the disjunctive query plus the group's hit count
        from ocaml_lucene_spark.query.grouping import top_hits_by_group

        return top_hits_by_group(
            _docs(spark, sf), ["table", "hash", "dup"], "lang", per_group=2
        )

    def q_filters_agg(spark, sf):
        # filters agg: one named conjunctive bucket per entry, ONE
        # tokenize pass + one-row exchange for all buckets
        from ocaml_lucene_spark.query.grouping import filters_agg

        return filters_agg(
            _docs(spark, sf),
            {
                "has_table": ["table"],
                "table_and_hash": ["table", "hash"],
                "dup_only": ["dup"],
            },
        )

    def q_cardinality_agg(spark, sf):
        # cardinality agg (exact mode): distinct users per event_type
        from ocaml_lucene_spark.query.grouping import cardinality_agg

        return cardinality_agg(spark.read.parquet(f"{sf}/events.parquet"))

    def q_value_histogram(spark, sf):
        # numeric histogram agg: fixed-width 25-unit buckets over the
        # events value column, quantized order-independent sums
        from ocaml_lucene_spark.query.grouping import value_histogram

        return value_histogram(spark.read.parquet(f"{sf}/events.parquet"), interval=25)

    def q_extended_stats(spark, sf):
        # extended_stats agg: exact integer moment folds (quantized
        # units + decimal sum-of-squares), derived floats in a pinned
        # expression order, variance clamped >= 0 before rounding
        from ocaml_lucene_spark.query.grouping import extended_stats

        return extended_stats(spark.read.parquet(f"{sf}/events.parquet"))

    def q_rare_terms(spark, sf):
        # rare_terms agg: long-tail terms, rarest first, capped at 100
        # over the (df, term) total order. The synthetic vocab is tiny
        # (31 closed-vocab terms, min df 25, median ~390), so the
        # threshold sits at the ~25th percentile to return a real tail
        from ocaml_lucene_spark.query.grouping import rare_terms

        return rare_terms(_docs(spark, sf), max_doc_count=385, limit=100)

    def q_multi_terms(spark, sf):
        # multi_terms agg: (lang, source) tuple buckets, integer-only
        # metrics, biggest buckets first
        from ocaml_lucene_spark.query.grouping import multi_terms

        return multi_terms(_docs(spark, sf), ("lang", "source"), "n_chars")

    def q_token_budget_select(spark, sf):
        # training-data selection under a token budget: greedy prefix
        # of the (lexical_diversity desc, doc_id) ranking; engine runs
        # the two-phase bucketed cut, the oracle a global window cumsum
        from ocaml_lucene_spark.functions.textstats import quality_features
        from ocaml_lucene_spark.operators.selection import token_budget_select

        scored = quality_features(_docs(spark, sf)).select(
            "doc_id", F.col("lexical_diversity").alias("score"), "n_tokens"
        )
        return token_budget_select(scored, budget=13000)

    def q_matrix_stats(spark, sf):
        # matrix_stats agg (ES matrix_stats, 2 fields): exact HUGEINT/
        # decimal moment folds; means/vars/cov integer-rounded,
        # correlation's irrational sqrt denominator double-rounded
        from ocaml_lucene_spark.query.grouping import matrix_stats

        return matrix_stats(_docs(spark, sf), x_col="n_chars")

    def q_moving_avg(spark, sf):
        # moving_fn/moving_avg pipeline agg: trailing 3-bucket mean of
        # the per-key date-histogram sums, integer-rounded ratio
        from ocaml_lucene_spark.query.grouping import date_histogram_moving_avg

        return date_histogram_moving_avg(
            spark.read.parquet(f"{sf}/events.parquet"), window=3
        )

    def q_clean_dedup_select(spark, sf):
        # END-TO-END training-data pipeline: Gopher cleaning -> exact
        # dedup among survivors -> quality-ranked token-budget prefix;
        # the gate pins the stage BOUNDARIES, each stage being
        # individually green elsewhere
        from ocaml_lucene_spark.operators.pipeline import clean_dedup_select

        return clean_dedup_select(_docs(spark, sf), budget=8000)

    def q_bm25_pinned(spark, sf):
        # ES pinned query: promoted ids first in list order (id 9999
        # does not exist and id 3 may not match — both paths covered),
        # organic (score desc, doc_id) follows
        from ocaml_lucene_spark.query.similarity import bm25_pinned_topk

        return bm25_pinned_topk(
            _docs(spark, sf), ["table", "hash"], [42, 7, 3], k=10
        )

    def q_random_score(spark, sf):
        # function_score random_score(seed, doc_id): reproducible
        # random ranking via the md5 uniform (partitioning-independent)
        from ocaml_lucene_spark.query.similarity import random_score_topk

        return random_score_topk(_docs(spark, sf), "table", seed=7, k=10)

    def q_bm25_combined_fields(spark, sf):
        # CombinedFieldQuery (BM25F-lite): text + source blend into
        # one synthetic field (weighted tf/dl sums, single df) —
        # unlike DisMax, multi-field hits ACCUMULATE
        return bm25.bm25_topk_combined_fields(
            _docs(spark, sf), ["table", "src3"],
            {"text": 1.0, "source": 2.0}, k=10,
        )

    def q_snippet_topk(spark, sf):
        # UnifiedHighlighter passage selection: best dense query-term
        # window per top-k doc (token-level snippet; char offsets are
        # highlight_topk's surface)
        from ocaml_lucene_spark.query.highlight import snippet_topk

        return snippet_topk(_docs(spark, sf), ["table", "hash"], k=10, width=8)

    def q_date_range_facets(spark, sf):
        # ES date_range agg: named OVERLAPPING [from, to) buckets as
        # independent conditional sums (one aggregate row, stack)
        from ocaml_lucene_spark.query.grouping import date_range_facets

        return date_range_facets(
            spark.read.parquet(f"{sf}/events.parquet"),
            [
                ("first_week", "2024-01-01", "2024-01-08"),
                ("mid_month", "2024-01-05", "2024-01-20"),
                ("from_jan20", "2024-01-20", None),
                ("all", None, None),
            ],
        )

    def q_auto_date_histogram(spark, sf):
        # ES auto_date_histogram: the (hour, day) ladder picks hour for
        # this corpus (720 buckets <= 1000); the oracle re-derives the
        # choice with its own date_diff ladder
        from ocaml_lucene_spark.query.grouping import auto_date_histogram

        return auto_date_histogram(
            spark.read.parquet(f"{sf}/events.parquet"), target_buckets=1000
        )

    def q_gopher_quality_filter(spark, sf):
        # composite Gopher-rule cleaning verdict over the (already
        # gate-green) quality + repetition metrics; failed = fixed-order
        # comma-joined rule names
        from ocaml_lucene_spark.functions.textstats import gopher_quality_filter

        return gopher_quality_filter(_docs(spark, sf))

    def q_chunk_windows(spark, sf):
        # RAG/long-doc sliding-window chunking: window-64 chunks every
        # 48 tokens (overlap 16), every token covered, all-integer +
        # deterministic chunk text; (doc_id, chunk_id) total order
        from ocaml_lucene_spark.operators.packing import chunk_windows

        return chunk_windows(_docs(spark, sf), window=64, stride=48)

    def q_domain_cap_select(spark, sf):
        # RefinedWeb-style per-domain cap: row_number within source
        # over (n_chars DESC, doc_id) — keep rank <= 10; integer/
        # boolean audit-log output ordered by the unique doc_id
        from ocaml_lucene_spark.operators.selection import domain_cap_select

        return domain_cap_select(
            spark.read.parquet(f"{sf}/documents.parquet"), cap=10
        )

    def q_ngram_contamination(spark, sf):
        # benchmark decontamination: corpus docs sharing a 4-gram with
        # the deterministic benchmark subset (doc_id % 13 == 0); the
        # benchmark's distinct n-grams broadcast — no corpus self-join
        docs = _docs(spark, sf)
        bench = docs.filter(F.col("doc_id") % 13 == 0)
        return dedup.ngram_contamination(docs, bench, n=4)

    def q_hll_users(spark, sf):
        # ES cardinality agg = HyperLogLog: 64 md5-bucketed registers,
        # integer harmonic fold, 709/1000 alpha, integer-rounded raw
        # estimate; ~150 distinct users/key -> the small-range linear-
        # counting branch fires (v_empty > 0, raw <= 160)
        from ocaml_lucene_spark.query.grouping import hll_cardinality

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_type", F.col("user_id").cast("string").alias("item")
        )
        return hll_cardinality(ev, item_col="item")

    def q_hll_values(spark, sf):
        # same sketch over the 2-decimal value column canonicalized to
        # integer cents (double->string is never hashed); ~1800
        # distinct/key -> the raw-estimator branch
        from ocaml_lucene_spark.query.grouping import hll_cardinality

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").cast("string").alias("item"),
        )
        return hll_cardinality(ev, item_col="item")

    def q_diversified_sampler(spark, sf):
        # ES diversified_sampler + sub-agg: top-50 sample of the
        # 'table OR hash' match capped at 2 docs per source, lang
        # facet over the sample; rounded-score total order on both
        # sides
        from ocaml_lucene_spark.query.grouping import diversified_sample_facets

        return diversified_sample_facets(
            _docs(spark, sf), ["table", "hash"],
            dedup_col="source", max_per_key=2, sample_size=50, facet_col="lang",
        )

    def q_rank_eval(spark, sf):
        # ES _rank_eval API: precision@k / recall@k / MRR / DCG@k of
        # the OR-query BM25 ranking against the judged set {docs
        # containing BOTH terms}; integer-rounded ratios, DCG gains
        # quantized at 1e-6 before the fold
        from ocaml_lucene_spark.query.rank_eval import rank_eval

        return rank_eval(
            _docs(spark, sf), ["table", "hash"], ["table", "hash"], k=10
        )

    def q_dup_spans(spark, sf):
        # ExactSubstr dedup (Lee et al. 2022): maximal token spans
        # whose 5-grams appear in >= 2 distinct docs — the cut list a
        # cleaning pass consumes; all-integer, bespoke total order
        # (doc_id, span_start). n=5 on this corpus = planted dup docs
        # (full-doc spans) plus a handful of organic collisions
        return dedup.dup_spans(_docs(spark, sf), n=5)

    def q_stats_bucket(spark, sf):
        # ES sibling pipeline aggs (stats_bucket subsuming max/min/
        # avg/sum_bucket): per key, stats over its per-day histogram
        # of value sums + the extreme buckets' labels; integer
        # quantize-units, avg via _div_round_expr, ties scalarize to
        # the lexicographically first bucket on both sides
        from ocaml_lucene_spark.query.grouping import stats_bucket

        return stats_bucket(spark.read.parquet(f"{sf}/events.parquet"))

    def q_percentile_ranks(spark, sf):
        # ES percentile_ranks, exact mode: per-lang empirical-CDF
        # percent of docs with n_chars <= each probe value; ratios of
        # exact integers via _div_round_expr; one groupBy, no window
        from ocaml_lucene_spark.query.grouping import percentile_ranks

        return percentile_ranks(_docs(spark, sf))

    def q_mad_agg(spark, sf):
        # ES median_absolute_deviation, exact mode: per event_type the
        # median of |value - median(value)| — both percentile passes on
        # exact integers (doubled cent units, then integer deviations),
        # the bit-identical interpolation domain; median adds +0.0
        from ocaml_lucene_spark.query.grouping import mad_agg

        return mad_agg(spark.read.parquet(f"{sf}/events.parquet"))

    def q_boxplot_agg(spark, sf):
        # ES boxplot, exact mode: per-lang five-number summary + Tukey
        # whiskers (nearest data values inside the 1.5*IQR fences);
        # integer inputs make every quantile an exact .25 multiple
        from ocaml_lucene_spark.query.grouping import boxplot_agg

        return boxplot_agg(_docs(spark, sf))

    def q_terms_set(spark, sf):
        # CoveringQuery / ES terms_set: per-doc minimum_should_match
        # threshold 1 + (n_chars % 3) read from doc-values; score =
        # the disjunctive BM25 sum over matching terms, rounded once
        from ocaml_lucene_spark.query.bm25 import terms_set_topk

        return terms_set_topk(
            _docs(spark, sf), ["table", "hash", "order", "spark"], k=10
        )

    def q_complete_context(spark, sf):
        # ES completion contexts: candidates scoped to lang='de',
        # ranked by the CONTEXT-LOCAL df (df desc, term asc) — one
        # pushdown-filtered pass, unlike the zero-job global FST walks
        from ocaml_lucene_spark.query.suggest import complete_context

        return complete_context(_docs(spark, sf), "s", "de", k=10)

    def q_has_parent(spark, sf):
        # Lucene join module, downward (ToChildBlockJoinQuery / ES
        # has_parent): children of the top-5 parents by the block-join
        # MAX aggregate, each inheriting the parent score unchanged
        from ocaml_lucene_spark.query.grouping import has_parent_children

        return has_parent_children(
            _docs(spark, sf), ["table", "hash", "dup"], "source", "max", k_parents=5
        )

    def q_terms_lookup(spark, sf):
        # ES terms query with LOOKUP: the term list is the distinct
        # tokens of doc 7, broadcast-joined against the corpus token
        # stream — filter context, integer-only output, ordered by
        # the unique doc_id
        from ocaml_lucene_spark.query.bm25 import terms_lookup_filter

        return terms_lookup_filter(_docs(spark, sf), lookup_doc_id=7)

    def q_rank_feature(spark, sf):
        # ES rank_feature (saturation): bm25 + 2.0 * x/(x+300) on
        # n_chars — ONE round on the combined raw (boosting contract);
        # the saturation division is IEEE-exact on both engines
        from ocaml_lucene_spark.query.similarity import rank_feature_topk

        return rank_feature_topk(_docs(spark, sf), ["table", "hash"], k=10)

    def q_distance_feature(spark, sf):
        # ES distance_feature on a date field: recency score
        # pivot/(pivot+|ts-origin|) — a ratio of exact integer micros,
        # rounded via _div_round_expr (integer half-away-from-zero)
        from ocaml_lucene_spark.query.similarity import distance_feature_topk

        return distance_feature_topk(
            spark.read.parquet(f"{sf}/events.parquet"),
            origin="2024-01-15 00:00:00", pivot_hours=72,
            event_type="click", k=20,
        )

    def q_string_stats(spark, sf):
        # ES string_stats over the source keyword field: lengths +
        # char-distribution Shannon entropy (unigram_logprob idiom:
        # per-char log2 quantized at 6dp separately, integer fold)
        from ocaml_lucene_spark.query.grouping import string_stats

        return string_stats(_docs(spark, sf), col="source")

    def q_t_test(spark, sf):
        # ES t_test (Welch, the heteroscedastic default): click vs
        # error values; exact integer moments, pinned IEEE op order,
        # sqrt denominator keeps t off 4dp boundaries; t signed -> +0.0
        from ocaml_lucene_spark.query.grouping import t_test

        return t_test(spark.read.parquet(f"{sf}/events.parquet"))

    def q_normalize_agg(spark, sf):
        # ES normalize pipeline agg (percent_of_sum + rescale_0_1)
        # over the day histogram: integer unit sums, both normalized
        # columns as integer-rounded ratios; ORDER BY bucket (unique)
        from ocaml_lucene_spark.query.grouping import normalize_agg

        return normalize_agg(spark.read.parquet(f"{sf}/events.parquet"))

    def q_cumulative_cardinality(spark, sf):
        # ES cumulative_cardinality, exact mode: per-bucket distinct
        # users + running distinct via first-seen minima (an id counts
        # once, at min(bucket)); all integers, ORDER BY bucket
        from ocaml_lucene_spark.query.grouping import cumulative_cardinality

        return cumulative_cardinality(spark.read.parquet(f"{sf}/events.parquet"))

    def q_linear_fusion(spark, sf):
        # ES linear retriever: min-max normalized weighted hybrid —
        # integer weights over integer 1/10^4 norm units, one divide
        # at emission (no post-normalization float rounding at all)
        from ocaml_lucene_spark.query.rescore import linear_fusion_topk

        return linear_fusion_topk(
            _docs(spark, sf), _vecs(spark, sf), ["table", "hash", "dup"],
            _query_vec(sf), n_each=100, k=10, w_lex=2, w_dense=1,
        )

    def q_frequent_item_sets(spark, sf):
        # ES frequent_item_sets (set size 2): co-occurring distinct
        # token pairs with Apriori-exact df pruning; pairs generated
        # MAP-SIDE from sorted per-doc arrays (no self-join) — the
        # oracle deliberately replays with a (doc,item) self-join
        from ocaml_lucene_spark.functions.textstats import frequent_item_sets

        return frequent_item_sets(_docs(spark, sf), min_support=300)

    def q_variable_width_histogram(spark, sf):
        # ES variable_width_histogram, deterministic contract: 1-D
        # weighted k-means over the bounded distinct-value histogram
        # (engine trains via the Spark collect path; the oracle bakes
        # the pyarrow-trained literals — identical by construction),
        # all-integer midpoint assignment folded into the scan
        from ocaml_lucene_spark.query.grouping import variable_width_histogram

        return variable_width_histogram(
            spark.read.parquet(f"{sf}/events.parquet"), k=6, n_iters=8
        )

    def q_complete_fuzzy(spark, sf):
        # typo-tolerant completion (FuzzyCompletionQuery): terms some
        # prefix of which is within 1 edit of the typed "sta" —
        # stream/spark/scan/small via one edit, table via its "ta"
        # prefix; ranked (df desc, term asc), zero Spark jobs
        from ocaml_lucene_spark.query.suggest import complete_fuzzy

        return complete_fuzzy(spark, _ensure_index(spark, sf), "sta", max_edits=1, k=10)

    def q_cross_doc_repetition(spark, sf):
        # Lee-et-al-style cross-document duplicated-span signal:
        # fraction of each doc's 3-gram occurrences whose gram appears
        # in >= 2 distinct docs; ratio of exact integers, integer-
        # rounded; two shuffles, no self-join
        return dedup.cross_doc_repetition(_docs(spark, sf), n=3)

    def q_repetition_signals(spark, sf):
        # Gopher-style within-doc repetition filters (dup-3gram
        # occurrence fraction, top-2gram occupancy)
        return textstats.repetition_signals(_docs(spark, sf))

    def q_sort_by_field(spark, sf):
        # Lucene Sort / TopFieldDocs: top-k of the (table OR dup) match
        # set ordered by the n_chars doc value, not relevance —
        # TakeOrderedAndProject, never a global sort
        from ocaml_lucene_spark.query.exec import search_sort_by_field_indexed

        return search_sort_by_field_indexed(
            spark, _ensure_index(spark, sf), _docs(spark, sf),
            should=["table", "dup"], k=10,
        )

    def q_unigram_logprob(spark, sf):
        # CCNet-style unigram LM surprisal (quantized integer fold —
        # the per-doc sum is order-free by construction)
        return textstats.unigram_logprob(_docs(spark, sf))

    def q_dsir_importance(spark, sf):
        # DSIR importance weights (Xie et al. 2023): mean per-token
        # log-likelihood ratio target-vs-raw unigram LM, add-one
        # smoothed; quantized integer folds, integer-rounded mean,
        # +0.0 on the signed result
        return textstats.dsir_importance(_docs(spark, sf), target_lang="en")

    def q_query_string(spark, sf):
        # classic QueryParser: must/should/boost/must_not + a phrase
        # filter clause, compiled onto the boosted-disjunction algebra
        from ocaml_lucene_spark.query.parser import execute_query

        return execute_query(
            spark, _docs(spark, sf), '+table hash^2.0 dup -merge "table hash"', k=10
        )

    def q_query_string_expand(spark, sf):
        # QueryParser with prefix + fuzzy clauses: zero-job FST
        # expansions feed the same boosted disjunction
        from ocaml_lucene_spark.query.parser import execute_query

        return execute_query(
            spark, _docs(spark, sf), "sca* sort~1",
            index_dir=_ensure_index(spark, sf), k=10,
        )

    def q_drill_sideways(spark, sf):
        # Lucene DrillSideways: drill-down on (lang=de, source=src3),
        # each dim's facet counts under the OTHER dim's filter only,
        # plus the fully-drilled _hits row; one match set, no re-scan
        from ocaml_lucene_spark.query.grouping import drill_sideways

        return drill_sideways(
            _docs(spark, sf), ["table", "hash"],
            {"lang": "de", "source": "src3"},
        )

    def q_query_string_fielded(spark, sf):
        # QueryParser v1.1 field syntax: keyword filter (lang:de) +
        # inclusive numeric range (n_chars:[150 TO 400]) in FILTER
        # context — Lucene stats stay corpus-wide, the metadata
        # predicates push to the source-table scan
        from ocaml_lucene_spark.query.parser import execute_query

        return execute_query(
            spark, _docs(spark, sf),
            "+table hash^2.0 lang:de n_chars:[150 TO 400] -merge", k=10,
        )

    def q_phrase_suggest(spark, sf):
        # did-you-mean for a two-word query: automaton∩FST candidates
        # per word, candidate pairs ranked by corpus bigram count
        from ocaml_lucene_spark.query.suggest import phrase_suggest

        return phrase_suggest(
            spark, _ensure_index(spark, sf), _docs(spark, sf),
            "tabel", "hash", max_edits=2, k=5,
        )

    def q_function_score(spark, sf):
        # FunctionScoreQuery: bm25 modulated by a rational length
        # decay 1/(1 + n_chars/1000) — no libm functions, so the
        # combined float is bit-identical cross-engine
        from ocaml_lucene_spark.query.similarity import bm25_function_score_topk

        return bm25_function_score_topk(
            _docs(spark, sf), ["table", "hash", "dup"], k=10
        )

    def q_dedup_clusters(spark, sf):
        # connected components over the LSH->verify near-dup pairs:
        # min-label propagation to a fixed point; the oracle computes
        # reachability with a recursive CTE — a different algorithm
        return dedup.dedup_clusters(
            dedup.near_dup_pairs(_docs(spark, sf), min_jaccard=0.8)
        )

    def q_session_windows(spark, sf):
        # sessionization: native F.session_window aggregate (6h gap),
        # window bounds emitted as epoch-microsecond integers
        from ocaml_lucene_spark.query.grouping import session_windows

        return session_windows(
            spark.read.parquet(f"{sf}/events.parquet"), gap="6 hours"
        )

    def q_sample_stratified(spark, sf):
        # deterministic data-mixing sampler: md5(doc_id|seed)-derived
        # uniform vs per-stratum rates — reproducible across cluster
        # sizes, unlike df.sample's partition-local RNG
        from ocaml_lucene_spark.operators.sampling import sample_stratified

        return sample_stratified(
            _docs(spark, sf), {"en": 0.5, "de": 0.25, "zh": 0.125}, "lang", seed=7
        )

    def q_pack_sequences(spark, sf):
        # concatenate-and-chunk sequence packing: pack_id from the
        # two-pass range-offset prefix sum (never a one-partition
        # global window); oracle is the naive single-window SQL
        from ocaml_lucene_spark.operators.packing import pack_sequences

        return pack_sequences(_docs(spark, sf), budget=2048)

    def q_significant_terms(spark, sf):
        # significant-terms agg: terms overrepresented in the 'table'
        # AND 'scan' match set vs the background corpus, ranked by lift
        from ocaml_lucene_spark.query.grouping import significant_terms

        return significant_terms(_docs(spark, sf), ["table", "scan"], k=10)

    def q_percolate(spark, sf):
        # percolator (reverse search): registered boolean rules match
        # each document — AND, OR, and 2-of-3 semantics via min_match;
        # the rule table is the broadcast side
        from ocaml_lucene_spark.query.percolator import percolate

        rules = [
            (1, ["table", "hash"], 2),   # AND
            (2, ["dup"], 1),             # single-term OR
            (3, ["table", "scan", "merge"], 2),  # 2-of-3 msm
        ]
        qdf = spark.createDataFrame(
            rules, "query_id long, terms array<string>, min_match int"
        )
        return percolate(_docs(spark, sf), qdf)

    def q_term_stats_prefix(spark, sf):
        # terms-dict prefix read from the in-memory FST
        from ocaml_lucene_spark.query.exec import term_stats_prefix

        return term_stats_prefix(spark, _ensure_index(spark, sf), "s")

    def q_term_stats_range(spark, sf):
        # terms-dict range read [f, m): byte-ordered FST enumeration
        # with early termination
        from ocaml_lucene_spark.query.exec import term_stats_range

        return term_stats_range(spark, _ensure_index(spark, sf), "f", "m")

    def q_bm25_after_merge(spark, sf):
        # full pipeline witness: 3 segments -> tiered merge -> 1 segment;
        # results must equal the logical path's SQL oracle exactly
        from ocaml_lucene_spark.query.exec import bm25_topk_indexed

        return bm25_topk_indexed(
            spark, _ensure_merged_index(spark, sf), ["spark", "query", "dup"],
            "or", 10, round_to=4,
        )

    def q_bm25_streamed(spark, sf):
        # Structured-Streaming ingestion witness: one segment per
        # micro-batch; stats aggregate across segments so results equal
        # a batch rebuild (same SQL oracle)
        from ocaml_lucene_spark.query.exec import bm25_topk_indexed

        return bm25_topk_indexed(
            spark, _ensure_streamed_index(spark, sf), ["spark", "query", "dup"],
            "or", 10, round_to=4,
        )

    def q_phrase_counts_indexed(spark, sf):
        # physical .pos-stream consumer: packed positions -> flat
        # (doc_id, pos) join; same oracle as the logical phrase path
        from ocaml_lucene_spark.query.exec import phrase_counts_indexed

        return phrase_counts_indexed(
            spark, _ensure_index(spark, sf, positions=True), "table", "hash"
        )

    def q_phrase3_counts(spark, sf):
        # exact 3-word phrase, logical path (chain of co-partitioned
        # position joins on one key)
        return bm25.phrase_counts_multi(_docs(spark, sf), ["slow", "hash", "batch"])

    def q_phrase3_counts_indexed(spark, sf):
        # same phrase over the packed .pos stream
        from ocaml_lucene_spark.query.exec import phrase_counts_indexed_multi

        return phrase_counts_indexed_multi(
            spark, _ensure_index(spark, sf, positions=True),
            ["slow", "hash", "batch"],
        )

    def q_multi_phrase_counts(spark, sf):
        # Lucene MultiPhraseQuery: per-slot alternative terms (the
        # index-time-synonym / token-graph phrase); packed .pos stream
        from ocaml_lucene_spark.query.exec import multi_phrase_counts_indexed

        return multi_phrase_counts_indexed(
            spark, _ensure_index(spark, sf, positions=True),
            [["table", "slow"], ["hash", "batch"]],
        )

    def q_bm25_boosting(spark, sf):
        # Lucene BoostingQuery (ES `boosting`): positive disjunction
        # scores; docs also matching a negative term are DEMOTED
        # (raw sum x 0.5, single round at the end), never dropped
        return bm25.bm25_topk_boosting(
            _docs(spark, sf), ["table", "hash"], ["dup"],
            negative_boost=0.5, k=10, round_to=4,
        )

    def q_proximity_counts(spark, sf):
        # proximity/sloppy-phrase primitive: RANGE JOIN on positions
        return bm25.proximity_counts(_docs(spark, sf), "table", "hash", window=5)

    def q_proximity_counts_indexed(spark, sf):
        from ocaml_lucene_spark.query.exec import proximity_counts_indexed

        return proximity_counts_indexed(
            spark, _ensure_index(spark, sf, positions=True), "table", "hash",
            window=5,
        )

    def q_term_offsets(spark, sf):
        # .pay-stream consumer (highlighting primitive). Full SQL
        # oracle: char-run detection over the raw text with lag/lead
        # windows (oracle_sql.term_offsets_sql) — independent of the
        # engine's tokenizer; plus the exact pytest oracle in
        # tests/test_positions.py
        from ocaml_lucene_spark.query.exec import term_offsets

        return term_offsets(
            spark, _ensure_index(spark, sf, offsets=True), "table"
        )

    def q_highlight(spark, sf):
        # highlighting surface: auto-routed BM25 top-k broadcast-joined
        # with the .pay-stream occurrences of the query terms inside
        # those k docs; full SQL oracle (highlight_topk_sql) + exact
        # pytest oracle in tests/test_positions.py
        from ocaml_lucene_spark.query.exec import highlight_topk

        return highlight_topk(
            spark, _ensure_index(spark, sf, offsets=True), ["table", "dup"],
            k=5, round_to=4,
        )

    def q_multimodal_metadata(spark, sf):
        # synthetic media derived deterministically from the 64 lowest
        # doc_ids exercises the binary plumbing end-to-end; the SQL
        # oracle (media_metadata_fake_sql) recomputes the expected
        # metadata as a pure formula of doc_id (n_bytes = 20 + w*h*f)
        from ocaml_lucene_spark.operators import multimodal as mm

        ids = [
            r.doc_id
            for r in _docs(spark, sf)
            .select("doc_id")
            .orderBy("doc_id")
            .limit(64)
            .collect()
        ]
        media = spark.createDataFrame(
            [
                (int(i), mm.encode_fake_image(int(i), 16 + int(i) % 17, 8 + int(i) % 9,
                                              1 + int(i) % 4))
                for i in ids
            ],
            "media_id long, blob binary",
        )
        return mm.media_metadata(media).orderBy("media_id")

    # --- training-data pipeline ops (dedup / ANN / text analysis) ---

    def q_streamed_dedup(spark, sf):
        # custom STATEFUL streaming operator (applyInPandasWithState):
        # first-seen-wins exact dedup across 3 ordered micro-batches
        # (batch i = docs with doc_id % 3 == i). Deterministic, so the
        # SQL oracle replays it: canonical = arg-min over
        # (batch_no, doc_id) per text hash.
        import hashlib
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocaml_lucene_spark.streaming.dedup_state import streaming_exact_dedup

        import ocaml_lucene_spark as pkg

        key = hashlib.md5(f"{pkg.__version__}|{sf}|sdedup".encode()).hexdigest()[:10]
        base = f"/tmp/olspark_entry_sdedup_{key}"
        out = os.path.join(base, "out")
        if _needs_build(base, marker="_done"):
            src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
            os.makedirs(src, exist_ok=True)
            t = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id", "text"])
            ids = t.column("doc_id").to_numpy()
            for i in range(3):
                p = f"{src}/b{i}.parquet"
                pq.write_table(t.filter(pa.array(ids % 3 == i)), p)
                # file source orders batches by mtime: pin strictly
                # increasing stamps so batch order (and the oracle's
                # first-seen-wins replay) is deterministic
                os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                streaming_exact_dedup(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            with open(os.path.join(base, "_done"), "w") as f:
                f.write("ok")
        return spark.read.parquet(out).select("doc_id", "text_hash")

    def q_streamed_term_counts(spark, sf):
        # COMPLETE-mode running aggregate (the third streaming mode
        # next to the append-mode histogram and the custom-state
        # dedup): term ttf accumulated across 3 ordered micro-batches;
        # the final table must equal the one-shot batch aggregate —
        # stream-batch parity is the contract. Top-20 by (ttf DESC,
        # term) — a total order.
        import hashlib
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocaml_lucene_spark.streaming.term_counts import streaming_term_counts

        import ocaml_lucene_spark as pkg

        key = hashlib.md5(f"{pkg.__version__}|{sf}|stermc".encode()).hexdigest()[:10]
        base = f"/tmp/olspark_entry_stermc_{key}"
        out = os.path.join(base, "out")
        if _needs_build(base, marker="_done"):
            src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
            os.makedirs(src, exist_ok=True)
            t = pq.read_table(f"{sf}/documents.parquet", columns=["doc_id", "text"])
            ids = t.column("doc_id").to_numpy()
            for i in range(3):
                p = f"{src}/b{i}.parquet"
                pq.write_table(t.filter(pa.array(ids % 3 == i)), p)
                os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            qname = f"stermc_{key}"
            q = (
                streaming_term_counts(stream)
                .writeStream.format("memory")
                .queryName(qname)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            # persist the FINAL complete-mode table (memory sinks die
            # with the session; the gate result must be re-readable)
            spark.table(qname).write.mode("overwrite").parquet(out)
            with open(os.path.join(base, "_done"), "w") as f:
                f.write("ok")
        return (
            spark.read.parquet(out)
            .select("term", F.col("ttf").cast("long").alias("ttf"))
            .orderBy(F.desc("ttf"), "term")
            .limit(20)
        )

    def q_dedup_exact(spark, sf):
        return dedup.exact_dup_groups(_docs(spark, sf))

    def q_minhash_signatures(spark, sf):
        return dedup.minhash_signatures(_docs(spark, sf))

    def q_minhash_pairs(spark, sf):
        return dedup.minhash_candidate_pairs(_docs(spark, sf), min_est_jaccard=0.5)

    def q_ngram_jaccard(spark, sf):
        # explicit opt-out of the (default-on) hot-shingle cap: the SQL
        # oracle computes Jaccard over the full shingle space
        return dedup.ngram_jaccard_pairs(
            _docs(spark, sf), min_jaccard=0.8, max_shingle_df=None
        )

    def q_near_dup(spark, sf):
        # composed pipeline: LSH candidates -> exact-Jaccard verify
        return dedup.near_dup_pairs(_docs(spark, sf), min_jaccard=0.8)

    def q_simhash(spark, sf):
        return dedup.simhash_signatures(_docs(spark, sf))

    def q_simhash_near(spark, sf):
        # max_hamming+1 signature slices (pigeonhole — exact recall at
        # any d <= max_hamming) + exact Hamming verify
        return dedup.simhash_near_pairs(_docs(spark, sf), max_hamming=3)

    def q_lang_id(spark, sf):
        # bespoke total order: the oracle SQL (frozen text, no ORDER
        # BY) emits parquet natural order == doc_id ascending; the
        # engine pipeline is repartitioned for compute parallelism
        # (r9), so the Spark side pins the same order explicitly.
        # repartition(1)+sortWithinPartitions, NOT orderBy: a global
        # sort's range-partitioning sampling pass re-executes the whole
        # upstream pipeline once more (measured +0.34s at sf1).
        return (
            textstats.language_id(_docs(spark, sf))
            .repartition(1)
            .sortWithinPartitions("doc_id")
        )

    def q_quality(spark, sf):
        # same bespoke doc_id total order as q_lang_id (r9)
        return (
            textstats.quality_features(_docs(spark, sf))
            .repartition(1)
            .sortWithinPartitions("doc_id")
        )

    def q_token_counts(spark, sf):
        return textstats.token_counts(_docs(spark, sf))

    def q_fingerprints(spark, sf):
        return textstats.fingerprints(_docs(spark, sf))

    def q_bigram_collocations(spark, sf):
        # PMI collocation mining (phrase/tokenizer-merge signal)
        return textstats.bigram_collocations(_docs(spark, sf), min_count=3)

    def q_bpe_token_counts(spark, sf):
        return textstats.bpe_token_counts(_docs(spark, sf))

    def _vecs(spark, sf):
        return spark.read.parquet(f"{sf}/embeddings.parquet")

    def q_ann_brute(spark, sf):
        return ann.brute_force_topk(_vecs(spark, sf), _query_vec(sf), k=10, exclude_self=0)

    def q_knn_filtered(spark, sf):
        # ES 8 knn-with-filter: label predicate restricts candidates
        # BEFORE the exact cosine ranking (pushdown + TakeOrdered)
        return ann.knn_filtered_topk(
            _vecs(spark, sf), _query_vec(sf), filter_label=3, k=10
        )

    def q_ann_lsh(spark, sf):
        return ann.lsh_topk(_vecs(spark, sf), _query_vec(sf), k=10, n_bits=8)

    def q_ann_lsh_indexed(spark, sf):
        # persisted bucket-partitioned layout: the probe reads only its
        # bucket's partition directory (partition pruning)
        import hashlib
        import os

        import ocaml_lucene_spark as pkg

        key = hashlib.md5(f"{pkg.__version__}|{sf}|ann".encode()).hexdigest()[:10]
        idx = f"/tmp/olspark_entry_ann_{key}"
        if _needs_build(idx):
            ann.build_ann_index(_vecs(spark, sf), idx, n_bits=8)
        return ann.lsh_topk_indexed(spark, idx, _query_vec(sf), k=10, n_bits=8)

    def q_ann_lsh_multiprobe(spark, sf):
        # multi-probe: query bucket + nearest-hyperplane flips
        return ann.lsh_topk(
            _vecs(spark, sf), _query_vec(sf), k=10, n_bits=8, n_probe=4
        )

    def q_ann_ivf(spark, sf):
        # IVF coarse quantizer: probe the 2 nearest of 4 cells
        return ann.ivf_topk(
            _vecs(spark, sf), _query_vec(sf), _ivf_centroids(sf), k=10, n_probe=2
        )

    def q_ann_ivf_indexed(spark, sf):
        # the IVF scale path: k-means-trained centroids, persisted
        # cell-partitioned parquet layout, partition-pruned probe of the
        # 2 nearest of 4 cells
        import hashlib
        import os

        import ocaml_lucene_spark as pkg

        cents = _ivf_kmeans_centroids(sf)
        key = hashlib.md5(f"{pkg.__version__}|{sf}|ivf".encode()).hexdigest()[:10]
        idx = f"/tmp/olspark_entry_ivf_{key}"
        if _needs_build(idx):
            ann.build_ivf_index(_vecs(spark, sf), idx, cents)
        return ann.ivf_topk_indexed(spark, idx, _query_vec(sf), cents, k=10, n_probe=2)

    def q_embed_near_dup(spark, sf):
        return ann.embedding_near_dup_pairs(_vecs(spark, sf), min_sim=0.9, n_bits=4)

    def q_semdedup(spark, sf):
        # SemDeDup (Abbas et al. 2023): k-means cells (same trained
        # centroids as ann_ivf_indexed), within-cell keep-the-first
        # pruning at 4dp-rounded cosine >= 0.4 (corpus-calibrated: the
        # synthetic embeddings top out at 0.51 pairwise, so 0.4 drops
        # 27/500 — non-degenerate, and no within-cell sim lands within
        # 1e-4 of the threshold's rounding boundary); (vec_id, cell,
        # kept) audit log ordered by the unique vec_id
        return ann.semdedup(
            _vecs(spark, sf), _ivf_kmeans_centroids(sf), min_sim=0.4
        )

    def q_embed_near_dup_indexed(spark, sf):
        # dedup-by-embedding over the persisted bucket-partitioned
        # layout: the self-join key is the partition key
        import hashlib
        import os

        import ocaml_lucene_spark as pkg

        key = hashlib.md5(f"{pkg.__version__}|{sf}|ann4".encode()).hexdigest()[:10]
        idx = f"/tmp/olspark_entry_ann4_{key}"
        if _needs_build(idx):
            ann.build_ann_index(_vecs(spark, sf), idx, n_bits=4)
        return ann.embedding_near_dup_pairs_indexed(spark, idx, min_sim=0.9)

    # Dict order IS the driver's execution order (the r3/r4/r5 runs all
    # cut at exactly 50 rows, dropping the tail — keep section (3)'s
    # row count in sync when adding entries). Rotation policy:
    # every entry must be driver-checked within the last two rounds, so
    # each round the previous round's cut tail moves to the FRONT and
    # the previous round's freshly-checked head moves to the tail.
    # Round-6 order: (1) the 41 entries cut from the r5 run (last
    # driver-checked in r4 — the rotation obligation from the r5
    # verdict); (2) 9 NEW r6 rows inside the 50-row window; (3) every
    # OTHER new r6 row, past the cap (the section between the
    # "past the 50-row cut" marker and the "r5-checked tail" marker —
    # all replica-verified locally, never driver-checked); (4) the 50
    # r5-checked entries as the sacrificial tail, in their r5 order.
    # ROUND-7 ROTATION (applied programmatically after the literal —
    # see the reorder block below): position 0 is bigram_collocations
    # (the ONLY ever-driver-red row, r4+r5; its signed-zero fix is
    # replica-proven but never driver-proven), then the 83
    # never-driver-checked rows in literal order (the r7 window covers
    # the first 49 of them), then the r5-checked tail, then the
    # r6-checked head (CORRECTNESS_r06 keys) demoted to the very end.
    # ROUND-8 ROTATION (applied programmatically below): demote the 50
    # CORRECTNESS_r07 keys to the very end; the resulting front is the
    # 34 never-driver-checked rows (cumulative_sum..semdedup) followed
    # by the 49 r5-checked stale rows — the 50-row window covers all 34
    # plus the 16 stalest r5 rows, so after r8 EVERY gate row has been
    # driver-proven at least once (the r7 verdict's top item).
    # ROUND-9 ROTATION (applied programmatically below, r9): the 50
    # CORRECTNESS_r08 keys are demoted to the very end, so the front is
    # exactly the 33 remaining r5-stale rows (verified equal to the r8
    # verdict's list) and the 50-row window covers them plus the 17
    # stalest r6-checked rows — after r9 no row's last driver proof is
    # older than 3 rounds. ROUND-10 OBLIGATION: demote the
    # CORRECTNESS_r09 keys the same way (front becomes the r6 tail).
    # Recount with list(queries()) before trusting any of these
    # numbers. New rows added to the literal automatically land in the
    # front (never-checked) bucket.
    qs = {
        # -- last driver-checked in r4: the r6 rotation obligation says
        #    these 41 MUST make the 50-row cut this round --
        "bm25_indexed_not": q_bm25_indexed_not,
        "bm25_wand_not": q_bm25_wand_not,
        "bm25_not": q_bm25_not,
        "bm25_bool": q_bm25_bool,
        "bm25_bool_msm": q_bm25_bool_msm,
        "bm25_bool_wand": q_bm25_bool_wand,
        "bm25_bool_indexed": q_bm25_bool_indexed,
        "bm25_lang_filtered": q_bm25_lang_filtered,
        "bm25_prefix": q_bm25_prefix,
        "bm25_fuzzy": q_bm25_fuzzy,
        "bm25_wildcard": q_bm25_wildcard,
        "bm25_regexp": q_bm25_regexp,
        "bm25_dismax_fields": q_bm25_dismax,
        "more_like_this": q_more_like_this,
        "bm25_phrase_scored": q_bm25_phrase,
        "bm25_after_delete": q_bm25_after_delete,
        "docs_matching_filter": q_docs_matching_filter,
        "total_hits": q_total_hits,
        "bm25_search_after": q_bm25_search_after,
        "term_postings": q_term_postings,
        "term_stats": q_term_stats,
        "term_stats_fst": q_term_stats_fst,
        "corpus_stats": q_corpus_stats,
        "phrase_counts_indexed": q_phrase_counts_indexed,
        "phrase3_counts_indexed": q_phrase3_counts_indexed,
        "proximity_counts_indexed": q_proximity_counts_indexed,
        "bm25_after_merge": q_bm25_after_merge,
        "bm25_streamed": q_bm25_streamed,
        "term_offsets": q_term_offsets,
        "highlight_topk": q_highlight,
        "dedup_exact": q_dedup_exact,
        "bpe_token_counts": q_bpe_token_counts,
        "fingerprints": q_fingerprints,
        "ann_brute_force": q_ann_brute,
        "ann_lsh": q_ann_lsh,
        "ann_lsh_indexed": q_ann_lsh_indexed,
        "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_indexed": q_ann_ivf_indexed,
        "embedding_near_dup": q_embed_near_dup,
        "embedding_near_dup_indexed": q_embed_near_dup_indexed,
        # -- NEW r6 rows go here (never driver-checked; 41 + new <= 50) --
        "rrf_fusion_indexed": q_rrf_fusion_indexed,
        "span_near_unordered": q_span_near_unordered,
        "span_or_first": q_span_or_first,
        "span_not": q_span_not,
        "phrase_prefix": q_phrase_prefix,
        "top_hits_grouped": q_top_hits_grouped,
        "filters_agg": q_filters_agg,
        "cardinality_agg": q_cardinality_agg,
        "value_histogram": q_value_histogram,
        # -- NEW r6 rows past the 50-row cut (replica-verified this
        #    round, never driver-checked): FIRST in line for r7 --
        "ngram_contamination": q_ngram_contamination,
        "repetition_signals": q_repetition_signals,
        "unigram_logprob": q_unigram_logprob,
        "sort_by_field": q_sort_by_field,
        "pack_sequences": q_pack_sequences,
        "sample_stratified": q_sample_stratified,
        "session_windows": q_session_windows,
        "dedup_clusters": q_dedup_clusters,
        "function_score": q_function_score,
        "phrase_suggest": q_phrase_suggest,
        "query_string": q_query_string,
        "query_string_expand": q_query_string_expand,
        "query_string_fielded": q_query_string_fielded,
        "drill_sideways": q_drill_sideways,
        "intervals_ordered": q_intervals_ordered,
        "intervals_containing": q_intervals_containing,
        "intervals_unordered": q_intervals_unordered,
        "bm25_analyzed": q_bm25_analyzed,
        "adjacency_matrix": q_adjacency_matrix,
        "boilerplate_coverage": q_boilerplate_coverage,
        "mix_proportions": q_mix_proportions,
        "percentiles_agg": q_percentiles_agg,
        "composite_agg": q_composite_agg,
        "histogram_pipeline": q_histogram_pipeline,
        "multi_phrase_counts": q_multi_phrase_counts,
        "bm25_boosting": q_bm25_boosting,
        "extended_stats": q_extended_stats,
        "rare_terms": q_rare_terms,
        "multi_terms": q_multi_terms,
        "token_budget_select": q_token_budget_select,
        "matrix_stats": q_matrix_stats,
        "moving_avg": q_moving_avg,
        "gopher_quality_filter": q_gopher_quality_filter,
        "domain_cap_select": q_domain_cap_select,
        "chunk_windows": q_chunk_windows,
        "streamed_sessions": q_streamed_sessions,
        "knn_filtered": q_knn_filtered,
        "date_range_facets": q_date_range_facets,
        "auto_date_histogram": q_auto_date_histogram,
        "snippet_topk": q_snippet_topk,
        "bm25_combined_fields": q_bm25_combined_fields,
        "bm25_pinned": q_bm25_pinned,
        "random_score": q_random_score,
        "clean_dedup_select": q_clean_dedup_select,
        "span_containing": q_span_containing,
        "span_within": q_span_within,
        "bucket_selector": q_bucket_selector,
        "bucket_sort": q_bucket_sort,
        "bucket_script": q_bucket_script,
        "cumulative_sum": q_cumulative_sum,
        "percentiles_bucket": q_percentiles_bucket,
        "serial_diff": q_serial_diff,
        "weighted_avg": q_weighted_avg,
        "top_metrics": q_top_metrics,
        "terms_shard_topk": q_terms_shard_topk,
        "span_multi": q_span_multi,
        "dsir_importance": q_dsir_importance,
        "cross_doc_repetition": q_cross_doc_repetition,
        "rank_eval": q_rank_eval,
        "diversified_sampler": q_diversified_sampler,
        "hll_users": q_hll_users,
        "hll_values": q_hll_values,
        "streamed_term_counts": q_streamed_term_counts,
        "dup_spans": q_dup_spans,
        "complete_fuzzy": q_complete_fuzzy,
        "stats_bucket": q_stats_bucket,
        "percentile_ranks": q_percentile_ranks,
        "mad_agg": q_mad_agg,
        "boxplot_agg": q_boxplot_agg,
        "terms_set": q_terms_set,
        "terms_lookup": q_terms_lookup,
        "has_parent": q_has_parent,
        "complete_context": q_complete_context,
        "rank_feature": q_rank_feature,
        "distance_feature": q_distance_feature,
        "string_stats": q_string_stats,
        "t_test": q_t_test,
        "normalize_agg": q_normalize_agg,
        "cumulative_cardinality": q_cumulative_cardinality,
        "linear_fusion": q_linear_fusion,
        "frequent_item_sets": q_frequent_item_sets,
        "variable_width_histogram": q_variable_width_histogram,
        "semdedup": q_semdedup,
        # -- r5-checked tail: sacrificial under a 50-row cut (all 50
        #    full-passed in CORRECTNESS_r05 except bigram_collocations,
        #    whose signed-zero fix is replica-verified this round) --
        "streamed_dedup": q_streamed_dedup,
        "minhash_candidate_pairs": q_minhash_pairs,
        "ngram_jaccard_pairs": q_ngram_jaccard,
        "near_dup_pairs": q_near_dup,
        "simhash_near_pairs": q_simhash_near,
        "language_id": q_lang_id,
        "quality_features": q_quality,
        "token_counts": q_token_counts,
        "bm25_single_rare": q_bm25_single_rare,
        "bm25_or_with_absent": q_bm25_or_with_absent,
        "bm25_and_absent_empty": q_bm25_and_absent_empty,
        "doc_lengths": q_doc_lengths,
        "phrase_counts": q_phrase_counts,
        "phrase3_counts": q_phrase3_counts,
        "proximity_counts": q_proximity_counts,
        "term_stats_prefix": q_term_stats_prefix,
        "term_stats_range": q_term_stats_range,
        "minhash_signatures": q_minhash_signatures,
        "simhash_signatures": q_simhash,
        "bigram_collocations": q_bigram_collocations,
        "multimodal_metadata": q_multimodal_metadata,
        "bm25_wildcard_suffix": q_bm25_wildcard_suffix,
        "spell_suggest": q_spell_suggest,
        "bm25_collapse": q_bm25_collapse,
        "facet_counts": q_facet_counts,
        "facet_counts_indexed": q_facet_counts_indexed,
        "tfidf_classic": q_tfidf_classic,
        "bm25_boosted": q_bm25_boosted,
        "bm25_synonym": q_bm25_synonym,
        "bm25_numeric_range": q_bm25_numeric_range,
        "date_histogram": q_date_histogram,
        "numeric_range_facet": q_numeric_range_facet,
        "match_stats": q_match_stats,
        "complete_prefix": q_complete_prefix,
        "rescore_topk": q_rescore,
        "rrf_fusion": q_rrf_fusion,
        "percolate": q_percolate,
        "span_first": q_span_first,
        "span_near_ordered": q_span_near_ordered,
        "significant_terms": q_significant_terms,
        "bm25_parent_join": q_bm25_parent_join,
        "explain_score": q_explain_score,
        "streamed_histogram": q_streamed_histogram,
        "bm25_or_top10": q_bm25_or,
        "bm25_and_top10": q_bm25_and,
        "bm25_wand": q_bm25_wand,
        "bm25_wand_parallel": q_bm25_wand_parallel,
        "bm25_auto": q_bm25_auto,
        "bm25_indexed_or": q_bm25_indexed_or,
        "bm25_indexed_and": q_bm25_indexed_and,
    }
    # -- ROUND-7 rotation reorder (see policy comment above the dict).
    # _R6_CHECKED is the exact CORRECTNESS_r06.json key list (the 50
    # rows the r6 driver window proved green) — demoted to the tail.
    _r6_checked = (
        "bm25_indexed_not", "bm25_wand_not", "bm25_not", "bm25_bool",
        "bm25_bool_msm", "bm25_bool_wand", "bm25_bool_indexed",
        "bm25_lang_filtered", "bm25_prefix", "bm25_fuzzy",
        "bm25_wildcard", "bm25_regexp", "bm25_dismax_fields",
        "more_like_this", "bm25_phrase_scored", "bm25_after_delete",
        "docs_matching_filter", "total_hits", "bm25_search_after",
        "term_postings", "term_stats", "term_stats_fst", "corpus_stats",
        "phrase_counts_indexed", "phrase3_counts_indexed",
        "proximity_counts_indexed", "bm25_after_merge", "bm25_streamed",
        "term_offsets", "highlight_topk", "dedup_exact",
        "bpe_token_counts", "fingerprints", "ann_brute_force",
        "ann_lsh", "ann_lsh_indexed", "ann_lsh_multiprobe", "ann_ivf",
        "ann_ivf_indexed", "embedding_near_dup",
        "embedding_near_dup_indexed", "rrf_fusion_indexed",
        "span_near_unordered", "span_or_first", "span_not",
        "phrase_prefix", "top_hits_grouped", "filters_agg",
        "cardinality_agg", "value_histogram",
    )
    # _R7_CHECKED is the exact CORRECTNESS_r07.json key list (the 50
    # rows the r7 driver window proved green) — demoted past _r6_checked.
    _r7_checked = (
        "bigram_collocations", "ngram_contamination", "repetition_signals",
        "unigram_logprob", "sort_by_field", "pack_sequences",
        "sample_stratified", "session_windows", "dedup_clusters",
        "function_score", "phrase_suggest", "query_string",
        "query_string_expand", "query_string_fielded", "drill_sideways",
        "intervals_ordered", "intervals_containing", "intervals_unordered",
        "bm25_analyzed", "adjacency_matrix", "boilerplate_coverage",
        "mix_proportions", "percentiles_agg", "composite_agg",
        "histogram_pipeline", "multi_phrase_counts", "bm25_boosting",
        "extended_stats", "rare_terms", "multi_terms",
        "token_budget_select", "matrix_stats", "moving_avg",
        "gopher_quality_filter", "domain_cap_select", "chunk_windows",
        "streamed_sessions", "knn_filtered", "date_range_facets",
        "auto_date_histogram", "snippet_topk", "bm25_combined_fields",
        "bm25_pinned", "random_score", "clean_dedup_select",
        "span_containing", "span_within", "bucket_selector",
        "bucket_sort", "bucket_script",
    )
    # _R8_CHECKED is the exact CORRECTNESS_r08.json key list (the 50
    # rows the r8 driver window proved green) — demoted to the very
    # end for the ROUND-9 rotation: the front is then the 33 remaining
    # r5-stale rows, and the 50-row window covers them plus the 17
    # stalest r6-checked rows (no row's last proof older than 3 rounds
    # once the r9 window lands).
    _r8_checked = (
        "cumulative_sum", "percentiles_bucket", "serial_diff",
        "weighted_avg", "top_metrics", "terms_shard_topk", "span_multi",
        "dsir_importance", "cross_doc_repetition", "rank_eval",
        "diversified_sampler", "hll_users", "hll_values",
        "streamed_term_counts", "dup_spans", "complete_fuzzy",
        "stats_bucket", "percentile_ranks", "mad_agg", "boxplot_agg",
        "terms_set", "terms_lookup", "has_parent", "complete_context",
        "rank_feature", "distance_feature", "string_stats", "t_test",
        "normalize_agg", "cumulative_cardinality", "linear_fusion",
        "frequent_item_sets", "variable_width_histogram", "semdedup",
        "streamed_dedup", "minhash_candidate_pairs",
        "ngram_jaccard_pairs", "near_dup_pairs", "simhash_near_pairs",
        "language_id", "quality_features", "token_counts",
        "bm25_single_rare", "bm25_or_with_absent",
        "bm25_and_absent_empty", "doc_lengths", "phrase_counts",
        "phrase3_counts", "proximity_counts", "term_stats_prefix",
    )
    _demoted = set(_r6_checked) | set(_r7_checked) | set(_r8_checked)
    assert _demoted <= qs.keys() and len(_demoted) == 150
    _front = [k for k in qs if k not in _demoted]
    qs = (
        {k: qs[k] for k in _front}
        | {k: qs[k] for k in _r6_checked}
        | {k: qs[k] for k in _r7_checked}
        | {k: qs[k] for k in _r8_checked}
    )
    if not ordered:
        return qs
    return {k: (_canonical(v) if k in _CANON_ORDER else v) for k, v in qs.items()}


def oracle_sql() -> dict[str, str]:
    from ocaml_lucene_spark.query import oracle_sql as osql
    from ocaml_lucene_spark.query import oracle_sql_ops as oops

    sf_for_vec = "/root/testdata/sf0.01"
    qv = _query_vec(sf_for_vec)
    ops = {
        "dedup_exact": oops.exact_dup_groups_sql(),
        "streamed_dedup": oops.streamed_dedup_sql(n_batches=3),
        "minhash_signatures": oops.minhash_signatures_sql(),
        "minhash_candidate_pairs": oops.minhash_candidate_pairs_sql(min_est_jaccard=0.5),
        "ngram_jaccard_pairs": oops.ngram_jaccard_pairs_sql(min_jaccard=0.8),
        "near_dup_pairs": oops.near_dup_pairs_sql(min_jaccard=0.8),
        "simhash_signatures": oops.simhash_signatures_sql(),
        "simhash_near_pairs": oops.simhash_near_pairs_sql(max_hamming=3),
        "language_id": oops.language_id_sql(),
        "quality_features": oops.quality_features_sql(),
        "token_counts": oops.token_counts_sql(),
        "bpe_token_counts": oops.bpe_token_counts_sql(),
        "fingerprints": oops.fingerprints_sql(),
        "bigram_collocations": oops.bigram_collocations_sql(min_count=3),
        "multimodal_metadata": oops.media_metadata_fake_sql(n_media=64),
        "ann_brute_force": oops.brute_force_topk_sql(qv, k=10, exclude_self=0),
        "ann_lsh": oops.lsh_topk_sql(qv, k=10, n_bits=8),
        "ann_lsh_indexed": oops.lsh_topk_sql(qv, k=10, n_bits=8),
        "ann_lsh_multiprobe": oops.lsh_topk_sql(qv, k=10, n_bits=8, n_probe=4),
        "ann_ivf": oops.ivf_topk_sql(qv, _ivf_centroids(sf_for_vec), k=10, n_probe=2),
        "ann_ivf_indexed": oops.ivf_topk_sql(
            qv, _ivf_kmeans_centroids(sf_for_vec), k=10, n_probe=2
        ),
        "embedding_near_dup": oops.embedding_near_dup_pairs_sql(min_sim=0.9, n_bits=4),
        "embedding_near_dup_indexed": oops.embedding_near_dup_pairs_sql(
            min_sim=0.9, n_bits=4
        ),
    }
    out = ops | {
        # the indexed/WAND physical paths must reproduce the same
        # oracle results as the logical path
        # char-offset surface: SQL-independent run detection over the
        # raw text (lag/lead windows), NOT a replay of the tokenizer
        "term_offsets": osql.term_offsets_sql("table"),
        "highlight_topk": osql.highlight_topk_sql(["table", "dup"], k=5, round_to=4),
        # filter context / counting / pagination (pagination oracle is
        # OFFSET-based — an independent mechanism vs the engine cursor)
        "docs_matching_filter": osql.matching_docs_sql(
            must=["table"], must_not=["dup"]
        ),
        "total_hits": osql.count_matching_sql(should=["table", "dup"]),
        "bm25_search_after": osql.bm25_topk_page_sql(
            ["spark", "query", "dup"], "or", 10, page=1
        ),
        "bm25_dismax_fields": osql.bm25_topk_dismax_sql(
            ["spark", "query", "dup"], k=10, tie_breaker=0.3
        ),
        "bm25_regexp": osql.bm25_topk_regexp_sql("s.a.*", k=10),
        "more_like_this": osql.more_like_this_sql(doc_id=7, k=10, max_query_terms=5),
        "bm25_phrase_scored": osql.bm25_topk_phrase_sql(["table", "hash"], k=10),
        "bm25_after_delete": osql.bm25_topk_after_delete_sql(
            ["spark", "query", "dup"], deleted=[1, 3], k=10
        ),
        "bm25_indexed_or": osql.bm25_topk_sql(["spark", "query", "dup"], "or", 10),
        "bm25_indexed_and": osql.bm25_topk_sql(["join", "hash", "scan"], "and", 10),
        "bm25_wand": osql.bm25_topk_sql(["spark", "query", "dup"], "or", 10),
        "bm25_wand_parallel": osql.bm25_topk_sql(["spark", "query", "dup"], "or", 10),
        "bm25_auto": osql.bm25_topk_sql(["table", "dup"], "or", 10),
        "bm25_prefix": osql.bm25_topk_prefix_sql("s", 10),
        "bm25_fuzzy": osql.bm25_topk_fuzzy_sql("sort", 2, 10),
        "bm25_wildcard": osql.bm25_topk_wildcard_sql("s?a*", 10),
        "bm25_wildcard_suffix": osql.bm25_topk_wildcard_sql("*ble", 10),
        "spell_suggest": osql.spell_suggest_sql("bat", max_edits=2, k=10),
        "bm25_collapse": osql.bm25_collapse_sql(
            ["table", "hash", "dup"], "source", k=10
        ),
        "facet_counts": osql.facet_counts_sql(["table", "scan"], "lang"),
        "facet_counts_indexed": osql.facet_counts_sql(["table", "scan"], "lang"),
        "tfidf_classic": osql.tfidf_classic_topk_sql(["table", "hash", "dup"], k=10),
        "bm25_boosted": osql.bm25_topk_boosted_sql(
            {"table": 2.0, "hash": 0.5, "dup": 1.0}, k=10
        ),
        "bm25_synonym": osql.bm25_topk_synonym_sql(["join", "merge"], k=10),
        "bm25_numeric_range": osql.bm25_topk_where_sql(
            ["table", "hash"], "n_chars BETWEEN 80 AND 300", k=10
        ),
        "date_histogram": osql.date_histogram_sql("day"),
        "numeric_range_facet": osql.numeric_range_facets_sql("n_chars", 50),
        "match_stats": osql.match_stats_sql(["table", "scan"], "n_chars"),
        "complete_prefix": osql.complete_prefix_sql("s", k=10),
        "rescore_topk": osql.rescore_topk_sql(
            ["table", "hash", "dup"], qv, n_first=100, k=10, alpha=1.0, beta=0.5
        ),
        "rrf_fusion": osql.rrf_fusion_sql(
            ["table", "hash", "dup"], qv, n_each=100, k=10
        ),
        "rrf_fusion_indexed": osql.rrf_fusion_indexed_sql(
            ["table", "hash", "dup"], qv, _ivf_kmeans_centroids(sf_for_vec),
            n_each=100, k=10, n_probe=2,
        ),
        "span_first": osql.span_first_sql("table", end=10),
        "span_near_ordered": osql.span_near_ordered_sql("table", "hash", slop=3),
        "span_near_unordered": osql.span_near_unordered_sql("table", "scan", slop=3),
        "span_or_first": osql.span_or_first_sql(["table", "dup"], end=15),
        "span_not": osql.span_not_sql("table", "dup", pre=2, post=2),
        "phrase_prefix": osql.phrase_prefix_sql("hash", "ta"),
        "top_hits_grouped": osql.top_hits_by_group_sql(
            ["table", "hash", "dup"], "lang", per_group=2
        ),
        "filters_agg": osql.filters_agg_sql(
            {
                "has_table": ["table"],
                "table_and_hash": ["table", "hash"],
                "dup_only": ["dup"],
            }
        ),
        "cardinality_agg": osql.cardinality_agg_sql(),
        "value_histogram": osql.value_histogram_sql(interval=25),
        "ngram_contamination": oops.ngram_contamination_sql(n=4, bench_mod=13),
        "repetition_signals": oops.repetition_signals_sql(),
        "unigram_logprob": oops.unigram_logprob_sql(),
        "sort_by_field": osql.search_sort_by_field_sql(should=["table", "dup"], k=10),
        "pack_sequences": oops.pack_sequences_sql(budget=2048),
        "sample_stratified": oops.sample_stratified_sql(
            {"en": 0.5, "de": 0.25, "zh": 0.125}, "lang", seed=7
        ),
        "session_windows": osql.session_windows_sql(gap_hours=6),
        "dedup_clusters": oops.dedup_clusters_sql(min_jaccard=0.8),
        "function_score": osql.bm25_function_score_sql(
            ["table", "hash", "dup"], k=10
        ),
        "phrase_suggest": osql.phrase_suggest_sql("tabel", "hash", max_edits=2, k=5),
        "query_string": osql.query_string_sql(
            '+table hash^2.0 dup -merge "table hash"', k=10
        ),
        "query_string_expand": osql.query_string_sql("sca* sort~1", k=10),
        "query_string_fielded": osql.query_string_sql(
            "+table hash^2.0 lang:de n_chars:[150 TO 400] -merge", k=10
        ),
        "drill_sideways": osql.drill_sideways_sql(
            ["table", "hash"], {"lang": "de", "source": "src3"}
        ),
        "intervals_ordered": osql.intervals_ordered_sql("table", "hash", max_gaps=6),
        "intervals_containing": osql.intervals_containing_sql(
            "table", "hash", "dup", max_gaps=6
        ),
        "intervals_unordered": osql.intervals_unordered_sql(
            "table", "hash", max_gaps=6
        ),
        "bm25_analyzed": osql.bm25_analyzed_sql(["the", "tables", "hash"], k=10),
        "adjacency_matrix": osql.adjacency_matrix_sql(
            {"table": ["table"], "hash": ["hash"], "dup": ["dup"]}
        ),
        "histogram_pipeline": osql.date_histogram_pipeline_sql("day"),
        "boilerplate_coverage": osql.boilerplate_coverage_sql(k=3, min_df=5),
        "mix_proportions": oops.mix_to_proportions_sql(
            {"en": 1.0, "de": 1.0, "fr": 2.0}
        ),
        "percentiles_agg": osql.percentiles_agg_sql(),
        "composite_agg": osql.composite_agg_sql(
            ("lang", "source"), ("de", "src15"), 10
        ),
        "significant_terms": osql.significant_terms_sql(["table", "scan"], k=10),
        "percolate": osql.percolate_sql(
            [
                (1, ["table", "hash"], 2),
                (2, ["dup"], 1),
                (3, ["table", "scan", "merge"], 2),
            ]
        ),
        "bm25_parent_join": osql.bm25_parent_join_sql(
            ["table", "hash", "dup"], "source", "sum", k=10
        ),
        "explain_score": osql.explain_score_sql(["table", "hash", "dup"], doc_id=7),
        # the streaming path must converge to the batch aggregation of
        # the CLEAN table: the late duplicate (dropped by the watermark)
        # and the flush sentinel are not in events.parquet, so any
        # late-row leak shows up as a +1 mismatch
        "streamed_histogram": osql.date_histogram_sql("hour"),
        "term_stats_fst": osql.term_stats_sql(),
        "term_stats_prefix": osql.term_stats_prefix_sql("s"),
        "term_stats_range": osql.term_stats_range_sql("f", "m"),
        "bm25_after_merge": osql.bm25_topk_sql(["spark", "query", "dup"], "or", 10),
        "bm25_streamed": osql.bm25_topk_sql(["spark", "query", "dup"], "or", 10),
        "bm25_or_top10": osql.bm25_topk_sql(["spark", "query", "dup"], "or", 10),
        "bm25_and_top10": osql.bm25_topk_sql(["join", "hash", "scan"], "and", 10),
        "bm25_single_rare": osql.bm25_topk_sql(["dup"], "or", 100),
        "bm25_or_with_absent": osql.bm25_topk_sql(["spark", "zzzabsent"], "or", 10),
        "bm25_and_absent_empty": osql.bm25_topk_sql(["spark", "zzzabsent"], "and", 10),
        "bm25_lang_filtered": osql.bm25_topk_sql(["spark", "query"], "or", 10, lang="en"),
        "bm25_not": osql.bm25_topk_sql(["spark", "query"], "or", 10, exclude=["dup"]),
        "bm25_bool": osql.bm25_topk_bool_sql(["table"], ["dup", "spark"], 10),
        "bm25_bool_msm": osql.bm25_topk_bool_sql(
            ["table"], ["dup", "spark"], 10, min_should_match=1
        ),
        "bm25_bool_wand": osql.bm25_topk_bool_sql(["table"], ["dup", "spark"], 10),
        "bm25_bool_indexed": osql.bm25_topk_bool_sql(["table"], ["dup", "spark"], 10),
        "bm25_indexed_not": osql.bm25_topk_sql(["spark", "query"], "or", 10, exclude=["dup"]),
        "bm25_wand_not": osql.bm25_topk_sql(["spark", "query"], "or", 10, exclude=["dup"]),
        "term_postings": osql.term_postings_sql("dup"),
        "term_stats": osql.term_stats_sql(),
        "corpus_stats": osql.corpus_stats_sql(),
        "doc_lengths": osql.doc_lengths_sql(),
        "phrase_counts": osql.phrase_counts_sql("table", "hash"),
        "phrase_counts_indexed": osql.phrase_counts_sql("table", "hash"),
        "phrase3_counts": osql.phrase_counts_multi_sql(["slow", "hash", "batch"]),
        "phrase3_counts_indexed": osql.phrase_counts_multi_sql(
            ["slow", "hash", "batch"]
        ),
        "proximity_counts": osql.proximity_counts_sql("table", "hash", window=5),
        "proximity_counts_indexed": osql.proximity_counts_sql(
            "table", "hash", window=5
        ),
        "multi_phrase_counts": osql.multi_phrase_counts_sql(
            [["table", "slow"], ["hash", "batch"]]
        ),
        "bm25_boosting": osql.bm25_topk_boosting_sql(
            ["table", "hash"], ["dup"], negative_boost=0.5, k=10
        ),
        "extended_stats": osql.extended_stats_sql(),
        "rare_terms": osql.rare_terms_sql(max_doc_count=385, limit=100),
        "multi_terms": osql.multi_terms_sql(("lang", "source"), "n_chars"),
        "token_budget_select": osql.token_budget_select_sql(budget=13000),
        "matrix_stats": osql.matrix_stats_sql(x_col="n_chars"),
        "moving_avg": osql.date_histogram_moving_avg_sql(window=3),
        "gopher_quality_filter": oops.gopher_quality_filter_sql(),
        "domain_cap_select": oops.domain_cap_select_sql(cap=10),
        "chunk_windows": oops.chunk_windows_sql(window=64, stride=48),
        "streamed_sessions": osql.session_windows_sql(gap_hours=6),
        "knn_filtered": oops.knn_filtered_topk_sql(qv, filter_label=3, k=10),
        "date_range_facets": osql.date_range_facets_sql(
            [
                ("first_week", "2024-01-01", "2024-01-08"),
                ("mid_month", "2024-01-05", "2024-01-20"),
                ("from_jan20", "2024-01-20", None),
                ("all", None, None),
            ]
        ),
        "auto_date_histogram": osql.auto_date_histogram_sql(target_buckets=1000),
        "snippet_topk": osql.snippet_topk_sql(["table", "hash"], k=10, width=8),
        "bm25_combined_fields": osql.bm25_topk_combined_fields_sql(
            ["table", "src3"], {"text": 1.0, "source": 2.0}, k=10
        ),
        "bm25_pinned": osql.bm25_pinned_topk_sql(["table", "hash"], [42, 7, 3], k=10),
        "random_score": osql.random_score_topk_sql("table", seed=7, k=10),
        "clean_dedup_select": oops.clean_dedup_select_sql(budget=8000),
        "span_containing": osql.span_containing_sql("table", "hash", "scan", slop=3),
        "span_within": osql.span_within_sql("scan", "table", "hash", slop=3),
        "bucket_selector": osql.bucket_selector_sql(min_sum=3300.0),
        "bucket_sort": osql.bucket_sort_sql(size=12, from_=2),
        "bucket_script": osql.bucket_script_sql(pick_type="click"),
        "cumulative_sum": osql.cumulative_sum_sql(),
        "percentiles_bucket": osql.percentiles_bucket_sql(),
        "serial_diff": osql.serial_diff_sql(lag=7),
        "weighted_avg": osql.weighted_avg_sql(),
        "top_metrics": osql.top_metrics_sql(),
        "terms_shard_topk": osql.terms_shard_topk_sql(),
        "span_multi": osql.span_multi_near_sql("sc", "table", slop=3),
        "dsir_importance": oops.dsir_importance_sql(target_lang="en"),
        "cross_doc_repetition": oops.cross_doc_repetition_sql(n=3),
        "rank_eval": osql.rank_eval_sql(["table", "hash"], ["table", "hash"], k=10),
        "streamed_term_counts": osql.streamed_term_counts_sql(k=20),
        "hll_users": osql.hll_cardinality_sql(item_expr="user_id::VARCHAR"),
        "hll_values": osql.hll_cardinality_sql(
            item_expr="CAST(round(value * 100, 0) AS BIGINT)::VARCHAR"
        ),
        "dup_spans": oops.dup_spans_sql(n=5),
        "complete_fuzzy": osql.complete_fuzzy_sql("sta", max_edits=1, k=10),
        "stats_bucket": osql.stats_bucket_sql("day"),
        "percentile_ranks": osql.percentile_ranks_sql(),
        "mad_agg": osql.mad_agg_sql(),
        "boxplot_agg": osql.boxplot_agg_sql(),
        "terms_set": osql.terms_set_sql(
            ["table", "hash", "order", "spark"], k=10
        ),
        "terms_lookup": osql.terms_lookup_sql(lookup_doc_id=7),
        "has_parent": osql.has_parent_children_sql(
            ["table", "hash", "dup"], "source", "max", k_parents=5
        ),
        "complete_context": osql.complete_context_sql("s", "de", k=10),
        "rank_feature": osql.rank_feature_sql(["table", "hash"], k=10),
        "distance_feature": osql.distance_feature_sql(
            origin="2024-01-15 00:00:00", pivot_hours=72,
            event_type="click", k=20,
        ),
        "string_stats": osql.string_stats_sql(col="source"),
        "t_test": osql.t_test_sql(),
        "normalize_agg": osql.normalize_agg_sql(),
        "cumulative_cardinality": osql.cumulative_cardinality_sql(),
        "linear_fusion": osql.linear_fusion_sql(
            ["table", "hash", "dup"], qv, n_each=100, k=10, w_lex=2, w_dense=1
        ),
        "frequent_item_sets": oops.frequent_item_sets_sql(min_support=300),
        "variable_width_histogram": osql.variable_width_histogram_sql(
            _vwh_centroids(sf_for_vec, k=6, n_iters=8)
        ),
        "semdedup": oops.semdedup_sql(
            _ivf_kmeans_centroids(sf_for_vec), min_sim=0.4
        ),
        "diversified_sampler": osql.diversified_sample_facets_sql(
            ["table", "hash"], dedup_col="source", max_per_key=2,
            sample_size=50, facet_col="lang",
        ),
    }
    return {
        k: (_canon_sql(sql) if k in _CANON_ORDER else sql) for k, sql in out.items()
    }
