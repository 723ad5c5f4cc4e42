"""Index build DAG — the north-rule pipeline.

    read webtext -> assign deterministic global docIDs (JVM) ->
    tokenize (JVM codegen; or Arrow UDF from raw html) ->
    explode -> per-(doc,term) tf [+ positions] (map-side partial agg) ->
    df-driven hot-term salting -> segments.write_segment: hash
    repartition(term, salt) [THE one pack shuffle] -> JVM sort within
    partitions -> mapInArrow pack kernel (numpy delta+FOR/PFOR blocks,
    term-sorted parquet shard, checkpoint row and the shard's (term,
    df, ttf) rows) -> terms table summed on the driver from those rows
    (the postings are not read back), stats/manifest writes. Import
    (build_index_from_postings) and merge end in the same writer.

Scale design notes (100 TB, 1000 executors):
- docID assignment is a hash shuffle on url + a driver exchange of
  per-partition counts (tiny), numbered in the JVM from the counts'
  offsets, not a global row_number sort: ids are a pure function of the
  url set (BASELINE.json north_rule determinism).
- tf aggregation happens map-side: all tokens of a doc live in one scan
  partition, so the partial agg collapses (doc,term) before shuffling.
- salting: terms whose df exceeds ``salt_df_threshold`` are split into
  ``n_salts`` sub-lists keyed by CONTIGUOUS doc_id range (salt 1..n =
  bucket of the doc-id span; 0 = unsalted) — a Zipfian "the" posting
  list lands on n_salts reducers instead of one, exactly as with hash
  salting (docIDs are dense, so range buckets are uniform), but the
  sub-lists stay doc-disjoint ranges. That makes every term's blocks
  globally doc-disjoint, which is what lets query-side block-max WAND
  treat a term as ONE doc-sorted posting list and skip whole blocks;
  hash-interleaved salts would make every block span the whole doc
  space and defeat skip pruning. A segment of at most
  ``salt_df_threshold`` docs cannot hold a hot term, so it is written
  unsalted without sampling (every incremental add of a small batch).
- one Python stage per write: the pack kernel. Doc-id numbering,
  salting and tokenizing are JVM expressions (tokenizing runs in Python
  only for offsets or raw html).
- the pack kernel writes its shard directly from the executor and
  returns a checkpoint row: restartable without recompute, per-partition
  lineage + docs/sec / postings/sec / bytes metrics (north rule).
- every per-posting byte goes through numpy in Arrow batches. No
  per-row Python anywhere.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.analysis import tokens_col
from . import segments as seg

DEFAULT_SALT_DF_THRESHOLD = 50_000
DEFAULT_N_SALTS = 16

# docID-assignment partition sizing: input-derived, NEVER
# cluster-derived (see assign_doc_ids). ~6.25k urls per id partition:
# fine enough that the id shuffle+sort parallelizes on any plausible
# core count even for SMALL corpora (the 250k round-5 default made the
# id stage a 2-task serial section at 100k docs — measured 0.55 vs
# 0.74 on the 2->8 scaling pair); above ~200M urls the cap takes over
# and per-partition size grows with the corpus, exactly as before.
# Any divisor preserves the cluster-size-independence invariant (n is
# a pure function of the url count), but CHANGING it renumbers ids —
# bump __version__ when touching this.
URLS_PER_ID_PARTITION = 6_250
MAX_ID_PARTITIONS = 32_768


def assign_doc_ids(docs: DataFrame, id_partitions: int | None = None) -> DataFrame:
    """Deterministic dense docIDs, pure function of the url set.

    Hash-partition by url (murmur3 — identical across jobs, unlike
    repartitionByRange whose sampled boundaries vary run to run and
    would break the counts/assignment consistency), sort within
    partitions, count per partition (tiny driver exchange), then number
    each partition's rows in the JVM: doc_id = offset[pid] + the row's
    rank in its sorted partition, where the offsets are one array
    literal of the counts' running sums and the rank is
    ``monotonically_increasing_id() - (pid << 33)`` (that id is the
    partition id in the upper bits over the row's position). No Python
    worker sees a row, and Catalyst prunes columns through the
    numbering like through any projection.

    The partition count is INPUT-derived (url count / URLS_PER_ID_PARTITION
    = 6,250, capped at 32,768), so
    the id map really is a pure function of the url set: ids survive
    cluster-size changes, which a resumed build or a two-cluster-size
    scaling run requires. (The pre-round-5 default consulted
    ``defaultParallelism`` — the same corpus got DIFFERENT ids under
    local[4] vs local[8]; the spark-submit e2e test caught it.) The
    sizing count is one url-column scan before the timed pipeline.
    Passing ``id_partitions`` explicitly moves this responsibility to
    the caller: ids are then a function of (url set, id_partitions)."""
    n = id_partitions
    if n is None:
        n_urls = docs.select("url").count()
        n = max(2, min(MAX_ID_PARTITIONS, 1 + n_urls // URLS_PER_ID_PARTITION))
    parted = (
        docs.repartition(n, "url")
        .sortWithinPartitions("url")
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = {
        r._pid: r.c
        for r in parted.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    }
    offsets = [0] * n
    for pid in range(1, n):
        offsets[pid] = offsets[pid - 1] + counts.get(pid - 1, 0)
    # F.get, not []: under ANSI an indexed literal array is non-null,
    # and doc_id stays nullable — the norms files record the schema's
    # nullability, so it is part of their bytes
    pid = F.col("_pid")
    out = parted.withColumn(
        "doc_id",
        F.get(F.lit(offsets), pid).cast("long")
        + F.monotonically_increasing_id()
        - F.shiftleft(pid.cast("long"), 33),
    ).drop("_pid")
    # The id-partition count is INPUT-derived (it must be, for id
    # determinism), so a small corpus can land far fewer partitions
    # than the cluster has cores — and every CPU-heavy map downstream
    # (tokenize, explode) would inherit that width: measured 16s -> 24s+
    # at local[8] on the 100k-doc bench when n collapsed to 2. The ids
    # are computed before this exchange, so a round-robin repartition
    # here restores compute parallelism without touching the id map.
    # At cluster scale n >= cores and this is a no-op.
    target = docs.sparkSession.sparkContext.defaultParallelism
    if n < target:
        out = out.repartition(target)
    return out


def _write_norms(norms: DataFrame, path: str):
    """Write the (doc_id, dl) norms with an Observation riding the same
    job: returns the row of n_docs, sum_dl and the doc-id bounds (lo,
    hi) that contiguous range salting needs. (Norms = Lucene's
    doc-values file; writing it first is fine — it is independent of
    the postings layout.)"""
    obs = Observation("corpus_stats")
    (
        norms.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    return obs.get


def _with_salt(
    tf: DataFrame, hot: DataFrame, stats, n_salts: int, salt_df_threshold: int
) -> DataFrame:
    """Attach the hot-term salt: rows of a term in ``hot`` get 1..n_salts,
    the CONTIGUOUS doc-id range bucket of the norms' [lo, hi] span
    (module docstring); every other row gets 0.

    A segment of at most ``salt_df_threshold`` docs has no term whose df
    exceeds the threshold, so every salt is 0 and ``hot`` (a lazy
    frame) is never evaluated: small writes run no hot-term job."""
    if int(stats["n_docs"]) <= salt_df_threshold:
        return tf.withColumn("salt", F.lit(0))
    lo, hi = stats["lo"], stats["hi"]
    span = int(hi) - int(lo) + 1 if lo is not None else 1
    return tf.join(F.broadcast(hot), "term", "left").withColumn(
        "salt",
        F.when(
            F.col("_hot").isNotNull(),
            F.least(
                F.lit(n_salts),
                (
                    F.lit(1)
                    + F.floor(
                        (F.col("doc_id") - F.lit(int(lo or 0)))
                        * F.lit(n_salts)
                        / F.lit(span)
                    )
                ).cast("int"),
            ),
        ).otherwise(F.lit(0)),
    ).drop("_hot")


def build_index(
    docs: DataFrame,
    index_dir: str,
    segment: str | None = None,
    with_positions: bool = False,
    with_offsets: bool = False,
    n_partitions: int | None = None,
    salt_df_threshold: int = DEFAULT_SALT_DF_THRESHOLD,
    n_salts: int = DEFAULT_N_SALTS,
    id_col: str = "doc_id",
    text_col: str = "text",
    html_col: str | None = None,
    doc_id_base: int | None = None,
) -> dict:
    """Build one segment over ``docs`` (which must carry unique global
    ``id_col``; use assign_doc_ids first if absent). Returns the
    manifest row (with build metrics).

    Per-(doc, term) tfs come from a JVM explode + hash aggregate: the
    map-side partial agg collapses duplicates, then ONE exchange on
    (doc_id, term, dl) feeds the final agg. Two posting-volume shuffles
    in all: this one and the writer's pack repartition."""
    t0 = time.monotonic()
    profile = os.environ.get("OLSPARK_BUILD_PROFILE") == "1"
    marks: list[tuple[str, float]] = []

    def mark(label: str) -> None:
        if profile:
            marks.append((label, time.monotonic() - t0))

    generation = seg.next_generation(index_dir)
    segment = segment or f"seg{generation:06d}"
    paths = seg.segment_paths(index_dir, segment)

    if html_col is not None:
        # north-rule ingestion path: extract text from raw html with the
        # vectorized Arrow UDF (byte-identical per url to the oracle
        # extractor — tests/test_analysis.py), then tokenize
        from ..functions.analysis import extract_text_udf

        docs = docs.withColumn(text_col, extract_text_udf(F.col(html_col)))

    # tokenize once: hot-sample, postings, and norms all consume `base`.
    # MEMORY_AND_DISK in local/bench; on a 100 TB cluster this becomes a
    # materialized staging table.
    base = (
        docs.select(F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("toks"))
        .withColumn("dl", F.size("toks").cast("long"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if with_offsets:
        # .pay-analogue path: per-occurrence char start offsets ride
        # along with positions. The offsets tokenizer is a whole-batch
        # numpy pass (batch_tokenize_with_offsets: UTF-32 codepoint
        # array + run-boundary arithmetic; per-doc Python only for
        # non-ASCII stragglers); token sequence is identical to the
        # JVM grammar for ASCII webtext.
        with_positions = True
        from ..functions.analysis import batch_tokenize_with_offsets

        def tok_off(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                # whole-batch numpy tokenization (one pass per Arrow
                # batch; per-doc Python only for non-ASCII stragglers)
                doc_idx, toks, pos, start, dls = batch_tokenize_with_offsets(
                    pdf["text"].tolist()
                )
                if doc_idx.size:
                    dids = pdf["doc_id"].to_numpy(dtype=np.int64)
                    yield pd.DataFrame(
                        {
                            "doc_id": dids[doc_idx],
                            "dl": dls[doc_idx],
                            "term": pd.Series(toks, dtype=object),
                            "pos": pos,
                            "start": start,
                        }
                    )

        occ = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")).mapInPandas(
            tok_off, "doc_id long, dl long, term string, pos long, start long"
        )
        tf = (
            occ.groupBy("doc_id", "term", "dl")
            .agg(
                F.count("*").cast("long").alias("tf"),
                F.sort_array(F.collect_list(F.struct("pos", "start"))).alias("occs"),
            )
            .select(
                "doc_id", "term", "dl", "tf",
                F.transform("occs", lambda x: x["pos"]).alias("positions"),
                F.transform("occs", lambda x: x["start"]).alias("starts"),
            )
        )
    elif with_positions:
        tf = (
            base.select("doc_id", "dl", F.posexplode("toks").alias("pos", "term"))
            .groupBy("doc_id", "term", "dl")
            .agg(
                F.count("*").cast("long").alias("tf"),
                F.sort_array(F.collect_list("pos")).alias("positions"),
            )
        )
    else:
        tf = (
            base.select("doc_id", "dl", F.explode("toks").alias("term"))
            .groupBy("doc_id", "term", "dl")
            .agg(F.count("*").cast("long").alias("tf"))
        )

    # ONE up-front pass: the norms write also fills the token cache;
    # afterwards no other job tokenizes the full corpus.
    corpus = _write_norms(base.select("doc_id", "dl"), paths["norms"])
    mark("norms+stats+bounds (one tokenize pass)")

    # hot-term detection from a small deterministic sample: a term with
    # true df > threshold shows df_sample ≈ df * frac (threshold scaled
    # accordingly), so one cheap 2% pass over the cached tokens finds
    # the Zipfian head — never a second full pass over the corpus. The
    # hot list is vocabulary-bounded and broadcast.
    sample_frac = float(os.environ.get("OLSPARK_SALT_SAMPLE_FRAC", "0.02"))
    hot = (
        base.sample(fraction=sample_frac, seed=7)
        .select("doc_id", F.explode_outer("toks").alias("term"))
        .groupBy("term")
        .agg(F.approx_count_distinct("doc_id").alias("df_s"))  # HLL: one
        # pass, no expand — exact counts are wasted on a threshold test
        .filter(F.col("df_s") > salt_df_threshold * sample_frac)
        .select("term", F.lit(1).alias("_hot"))
    )
    tf = _with_salt(tf, hot, corpus, n_salts, salt_df_threshold)
    mark("term_dictionary")

    manifest_row = seg.write_segment(
        tf, index_dir, segment, generation,
        n_docs=int(corpus["n_docs"]), sum_dl=int(corpus["sum_dl"]),
        source="build", started=t0, with_positions=with_positions,
        with_offsets=with_offsets, n_partitions=n_partitions,
        doc_id_base=doc_id_base, mark=mark,
    )
    if profile:
        import sys

        prev = 0.0
        for label, at in marks:
            print(f"[build-profile] {label}: +{at - prev:.2f}s (t={at:.2f})", file=sys.stderr)
            prev = at
    base.unpersist()
    return manifest_row


def build_index_from_postings(
    postings: DataFrame,
    index_dir: str,
    segment: str | None = None,
    n_partitions: int | None = None,
    salt_df_threshold: int = DEFAULT_SALT_DF_THRESHOLD,
    n_salts: int = DEFAULT_N_SALTS,
    source: str = "import",
) -> dict:
    """Build one segment from an ALREADY-INVERTED postings relation —
    the tail of build_index for inputs that skip tokenization (the
    Lucene-segment importer, interop/import_index.py, feeds this with
    postings decoded from a real Lucene directory).

    ``postings``: (doc_id long, term string, tf long
    [, positions array<long>]) with globally unique doc_ids and one
    row per (doc_id, term). Positions build a .pos-analogue segment.

    dl (the norms doc-value) derives as sum(tf) per doc — identical to
    the tokenizer's token count when every token is indexed, which is
    Lucene's own norm for a default-similarity text field. Docs absent
    from ``postings`` (empty docs) contribute nothing here; stats
    count only posting-bearing docs (documented divergence from
    Lucene's maxDoc, which counts empty docs too).

    Same scale shape as build_index from the tf stage on: the same
    salting and the same segment writer, with map-side partial aggs
    for norms/hot detection. The extra dl join (build_index carries dl
    inline from the tokenizer) is one doc-keyed shuffle of the
    postings; AQE broadcast-joins it when the norms side is small."""
    t0 = time.monotonic()
    generation = seg.next_generation(index_dir)
    segment = segment or f"seg{generation:06d}"
    paths = seg.segment_paths(index_dir, segment)

    # three consumers (norms, hot detection, the pack shuffle) — same
    # staging rationale as build_index's token cache
    postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
    corpus = _write_norms(
        postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl")),
        paths["norms"],
    )

    # exact hot-term dfs: the (doc, term) collapse already happened
    # upstream, so df is a plain count — no sampling pass needed
    hot = (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > salt_df_threshold)
        .select("term", F.lit(1).alias("_hot"))
    )
    tf = _with_salt(
        postings.join(postings.sparkSession.read.parquet(paths["norms"]), "doc_id"),
        hot, corpus, n_salts, salt_df_threshold,
    )
    manifest_row = seg.write_segment(
        tf, index_dir, segment, generation,
        n_docs=int(corpus["n_docs"]), sum_dl=int(corpus["sum_dl"]),
        source=source, started=t0,
        with_positions="positions" in postings.columns,
        n_partitions=n_partitions,
    )
    postings.unpersist()
    return manifest_row


def add_documents(
    docs: DataFrame,
    index_dir: str,
    url_col: str = "url",
    text_col: str = "text",
    **build_kw,
) -> dict:
    """Incremental indexing: assign fresh global docIDs above the
    current max (append-only doc space, Lucene name_counter analogue,
    codec/segments.ml:22-31) and build a new segment. Existing segments
    are untouched; queries aggregate stats across all live segments, so
    results equal a from-scratch single-segment build (tested).

    The base is the highest live doc id + 1, not the live doc count: a
    purging merge lowers the count but leaves the surviving ids where
    they are, so a count-based base would hand out ids still in use."""
    from . import segments as seg

    bounds = seg.doc_bounds(index_dir)
    base = bounds[1] + 1 if bounds is not None else 0
    # the columns the build reads, under the names it reads them by
    keep = ["url", text_col] + ([build_kw["html_col"]] if build_kw.get("html_col") else [])
    with_ids = assign_doc_ids(
        docs.withColumnRenamed(url_col, "url").select(*dict.fromkeys(keep))
    )
    with_ids = with_ids.withColumn("doc_id", F.col("doc_id") + F.lit(base))
    return build_index(
        with_ids, index_dir, text_col=text_col, doc_id_base=base, **build_kw
    )


def ensure_dir(path: str) -> None:
    os.makedirs(path, exist_ok=True)
