"""Index build DAG — the north-rule pipeline.

    read webtext -> assign deterministic global docIDs ->
    tokenize (JVM codegen; or Arrow UDF from raw html) ->
    explode -> per-(doc,term) tf [+ positions] (map-side partial agg) ->
    df-driven hot-term salting -> repartitionByRange(term, salt)
    [THE one mandatory shuffle] -> applyInPandas pack kernel
    (numpy delta+FOR/PFOR blocks, term-sorted zstd parquet shard,
    checkpoint row) -> terms/stats/manifest writes.

Scale design notes (100 TB, 1000 executors):
- docID assignment is a range-shuffle on url + a driver exchange of
  per-partition counts (tiny), not a global row_number sort: ids are a
  pure function of the url set (BASELINE.json north_rule determinism).
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
  space and defeat skip pruning.
- the pack kernel writes its shard directly from the executor and
  returns a checkpoint row: restartable without recompute, per-partition
  lineage + docs/sec / postings/sec / bytes metrics (north rule).
- every per-posting byte goes through numpy in Arrow batches. No
  per-row Python anywhere.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
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
    partitions, count per partition (tiny driver exchange), then
    enumerate per partition with mapInArrow (no window shuffle; record
    batches pass through as zero-copy Arrow buffers with one appended
    int64 column — payload columns like html never materialize in
    Python).

    The partition count is INPUT-derived (url count / URLS_PER_ID_PARTITION
    = 6,250, capped at 32,768), so
    the id map really is a pure function of the url set: ids survive
    cluster-size changes, which a resumed build or a two-cluster-size
    scaling run requires. (The pre-round-5 default consulted
    ``defaultParallelism`` — the same corpus got DIFFERENT ids under
    local[4] vs local[8]; the spark-submit e2e test caught it.) The
    sizing count is one url-column scan before the timed pipeline.
    Passing ``id_partitions`` explicitly moves this responsibility to
    the caller: ids are then a function of (url set, id_partitions).

    NOTE: the enumeration UDF is a column-pruning barrier — Catalyst
    cannot prune columns through it — so SELECT the columns you need
    BEFORE calling (e.g. ``assign_doc_ids(df.select("url", "text"))``),
    or every downstream job drags the full row payload through the
    worker."""
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
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_schema = parted.drop("_pid").schema.add("doc_id", "long")

    def enumerate_partition(batches):
        import numpy as np
        import pyarrow as pa

        rn = 0
        off = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            if off is None:
                off = offsets[int(rb.column(rb.schema.get_field_index("_pid"))[0].as_py())]
            ids = pa.array(
                np.arange(off + rn, off + rn + rb.num_rows, dtype=np.int64)
            )
            rn += rb.num_rows
            keep = [f for f in rb.schema.names if f != "_pid"]
            arrays = [rb.column(rb.schema.get_field_index(f)) for f in keep]
            yield pa.RecordBatch.from_arrays(arrays + [ids], names=keep + ["doc_id"])

    out = parted.mapInArrow(enumerate_partition, out_schema)
    # The id-partition count is INPUT-derived (it must be, for id
    # determinism), so a small corpus can land far fewer partitions
    # than the cluster has cores — and every CPU-heavy map downstream
    # (tokenize, explode) would inherit that width: measured 16s -> 24s+
    # at local[8] on the 100k-doc bench when n collapsed to 2. The ids
    # are already materialized by the enumeration map, so a round-robin
    # repartition here restores compute parallelism without touching
    # the id map. At cluster scale n >= cores and this is a no-op.
    target = docs.sparkSession.sparkContext.defaultParallelism
    if n < target:
        out = out.repartition(target)
    return out


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
    int_term_ids: bool = False,
    max_int_id_vocab: int = 2_000_000,
    tf_agg: str | None = None,
) -> dict:
    """Build one segment over ``docs`` (which must carry unique global
    ``id_col``; use assign_doc_ids first if absent). Returns the
    manifest row (with build metrics).

    tf_agg: how per-(doc,term) tfs are computed on the plain path
    (positions/offsets builds always use the shuffle agg).
    - "shuffle" (default): JVM explode + hash aggregate — map-side
      partial agg collapses duplicates, then ONE exchange on
      (doc_id, term, dl) feeds the final agg. Two posting-volume
      shuffles total (this one + the pack repartition).
    - "local": an Arrow-batched pandas kernel — every token of a doc
      lives in the doc's partition BY CONSTRUCTION (a doc is one row),
      so per-doc tf needs NO exchange; Catalyst can't see that
      invariant, the kernel can. ONE posting-volume shuffle total (the
      pack repartition). The tokens DO cross the JVM->Python Arrow
      boundary once, so this trades local serialization for shuffle
      bytes — the right trade on a network-shuffle cluster; measured
      locally in BASELINE.md. Env default: OLSPARK_TF_AGG."""
    spark = docs.sparkSession
    t0 = time.monotonic()
    profile = os.environ.get("OLSPARK_BUILD_PROFILE") == "1"
    marks: list[tuple[str, float]] = []

    def mark(label: str) -> None:
        if profile:
            marks.append((label, time.monotonic() - t0))

    generation = seg.next_generation(index_dir)
    segment = segment or f"seg{generation:06d}"
    paths = seg.segment_paths(index_dir, segment)
    n_parts = n_partitions or spark.sparkContext.defaultParallelism

    if html_col is not None:
        # north-rule ingestion path: extract text from raw html with the
        # vectorized Arrow UDF (byte-identical per url to the oracle
        # extractor — tests/test_analysis.py), then tokenize
        from ..functions.analysis import extract_text_udf

        docs = docs.withColumn(text_col, extract_text_udf(F.col(html_col)))
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("toks")
    ).withColumn("dl", F.size("toks").cast("long"))
    # tokenize once: hot-sample, postings, and norms all consume `base`.
    # MEMORY_AND_DISK in local/bench; on a 100 TB cluster this becomes a
    # materialized staging table (or recompute, set persist_tokens=0).
    persist_tokens = os.environ.get("OLSPARK_PERSIST_TOKENS", "1") != "0"
    if persist_tokens:
        from pyspark import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)

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
        tf_agg = tf_agg or os.environ.get("OLSPARK_TF_AGG", "shuffle")
        if tf_agg == "local":
            # partition-local tf: zero-exchange aggregation (see the
            # build_index docstring). Vectorized: one np.repeat for
            # ids/dls, itertools.chain for the flat term stream, one
            # C-level pandas groupby per Arrow batch.
            def tf_part(batches):
                from itertools import chain

                import numpy as np
                import pandas as pd

                for pdf in batches:
                    if not len(pdf):
                        continue
                    toks = pdf["toks"]
                    sizes = pdf["dl"].to_numpy(dtype=np.int64)
                    flat = np.array(list(chain.from_iterable(toks)), dtype=object)
                    if not flat.size:
                        continue
                    g = (
                        pd.DataFrame(
                            {
                                "doc_id": np.repeat(
                                    pdf["doc_id"].to_numpy(dtype=np.int64), sizes
                                ),
                                "term": flat,
                                "dl": np.repeat(sizes, sizes),
                            }
                        )
                        .groupby(["doc_id", "term", "dl"], sort=False)
                        .size()
                        .reset_index(name="tf")
                    )
                    yield g

            tf = base.mapInPandas(
                tf_part, "doc_id long, term string, dl long, tf long"
            )
        else:
            tf = (
                base.select("doc_id", "dl", F.explode("toks").alias("term"))
                .groupBy("doc_id", "term", "dl")
                .agg(F.count("*").cast("long").alias("tf"))
            )

    # ONE up-front pass: write norms (doc_id, dl) with the Observation
    # riding the same job collecting corpus stats AND the doc-id bounds
    # needed for contiguous range salting. With persist on, this pass
    # also fills the token cache; afterwards no other job tokenizes the
    # full corpus. (Norms = Lucene's doc-values file; writing it first
    # is fine — it is independent of the postings layout.)
    from pyspark.sql import Observation

    obs = Observation("corpus_stats")
    (
        base.select("doc_id", "dl")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .write.mode("overwrite")
        .parquet(paths["norms"])
    )
    agg_row = obs.get
    b_lo, b_hi = agg_row["lo"], agg_row["hi"]
    span = int(b_hi) - int(b_lo) + 1 if b_lo is not None else 1
    mark("norms+stats+bounds (one tokenize pass)")

    # hot-term detection from a small deterministic sample: a term with
    # true df > threshold shows df_sample ≈ df * frac (threshold scaled
    # accordingly), so one cheap 2% pass finds the Zipfian head — never
    # a second full pass over the corpus. The hot list is vocabulary-
    # bounded and broadcast. The sample sits BELOW the tokenizer when
    # the token cache is off, so only the sampled docs tokenize.
    sample_frac = float(os.environ.get("OLSPARK_SALT_SAMPLE_FRAC", "0.02"))
    if persist_tokens:
        hot_src = base.sample(fraction=sample_frac, seed=7)
    else:
        hot_src = docs.sample(fraction=sample_frac, seed=7).select(
            F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("toks")
        )
    hot = (
        hot_src.select("doc_id", F.explode_outer("toks").alias("term"))
        .groupBy("term")
        .agg(F.approx_count_distinct("doc_id").alias("df_s"))  # HLL: one
        # pass, no expand — exact counts are wasted on a threshold test
        .filter(F.col("df_s") > salt_df_threshold * sample_frac)
        .select("term", F.lit(1).alias("_hot"))
    )

    # ---- global term dictionary (int ids) ---------------------------
    # THE shuffle below carries one row per (doc, term) posting; the
    # term STRING is its widest column (~16-24 of ~60 UnsafeRow bytes)
    # and forces string comparisons in the Tungsten sort. A dense int
    # id — the term's rank in the SORTED vocabulary, so tid order ==
    # term order and the term-sorted shard layout is unchanged — cuts
    # shuffle bytes ~25-30% and turns the sort into a radix sort. The
    # mapping is a pure function of the term SET (rank in sorted order),
    # so resume fingerprints stay deterministic; the kernel reconstructs
    # strings from the broadcast vocabulary, so shard bytes are
    # IDENTICAL to a string-shuffle build (tested). The dictionary also
    # absorbs the hot-term flag, so the postings stream crosses ONE
    # broadcast join, not two.
    #
    # Scale bound: the vocabulary is Heaps-law bounded but broadcast +
    # driver-collected here, so above ``max_int_id_vocab`` terms the
    # build falls back to the string shuffle (at 100 TB with ~10^8+
    # distinct tokens the dict join would itself need a shuffle, which
    # defeats the purpose). One extra vocabulary pass runs over the
    # cached token arrays (map-side partial distinct -> tiny shuffle).
    #
    # Default OFF for single-JVM/local builds — MEASURED on this host
    # (paired A/B, 100k docs): the vocabulary pass (~1.2 s @ 8 cores)
    # slightly exceeds what the byte savings return when the shuffle is
    # memory-local (net -3..5% at local[8], neutral at local[2]). On a
    # real cluster the shuffle crosses the NETWORK and reducers sort
    # spilled runs, where ~27% fewer row bytes and a radix (int) sort
    # are the win — enable it there. Byte-identical outputs under both
    # settings are pinned by test_int_term_id_shuffle_byte_identical.
    bc_vocab = None
    if int_term_ids:
        vocab_src = (
            base.select(F.explode("toks").alias("term"))
            if persist_tokens
            else tf.select("term")
        )
        vocab_df = vocab_src.distinct().persist()
        n_vocab = vocab_df.count()
        if n_vocab <= max_int_id_vocab:
            terms_sorted = [r.term for r in vocab_df.orderBy("term").collect()]
            import numpy as _np
            import pandas as _pd
            import pyarrow as _pa

            bc_vocab = spark.sparkContext.broadcast(
                _pa.array(terms_sorted, type=_pa.string())
            )
            hot_set = {r.term for r in hot.collect()}  # vocabulary-bounded
            dict_df = spark.createDataFrame(
                _pd.DataFrame(
                    {
                        "term": _pd.Series(terms_sorted, dtype=object),
                        "tid": _np.arange(len(terms_sorted), dtype=_np.int64),
                        "_hot": _np.array(
                            [t in hot_set for t in terms_sorted], dtype=bool
                        ),
                    }
                ),
                schema="term string, tid long, _hot boolean",
            )
            tf = tf.join(F.broadcast(dict_df), "term").drop("term")
        vocab_df.unpersist()
    if bc_vocab is None:
        tf = tf.join(F.broadcast(hot), "term", "left")
    term_key = "term" if bc_vocab is None else "tid"
    mark("term_dictionary")

    hot_cond = (
        F.col("_hot") if bc_vocab is not None else F.col("_hot").isNotNull()
    )
    tf = tf.withColumn(
        "salt",
        F.when(
            hot_cond,
            F.least(
                F.lit(n_salts),
                (
                    F.lit(1)
                    + F.floor(
                        (F.col("doc_id") - F.lit(int(b_lo or 0)))
                        * F.lit(n_salts)
                        / F.lit(span)
                    )
                ).cast("int"),
            ),
        ).otherwise(F.lit(0)),
    ).drop("_hot")

    # THE shuffle: hash-partition on (term-or-tid, salt). Hash (not
    # range) because resume requires partition contents to be a pure
    # function of the data — repartitionByRange samples boundaries with
    # a run-varying seed, which would invalidate checkpoint fingerprints.
    # The pack kernel term-sorts within each shard, so parquet row-group
    # min/max term stats (zone maps) still prune point lookups to ~one
    # row group per shard; hot terms spread across n_salts partitions.
    # sort in the JVM (Tungsten sort, radix on the shuffled rows) — a
    # pandas object-dtype string sort in the kernel costs more than the
    # packing itself; the kernel verifies order and skips its own sort
    shuffled = (
        tf.repartition(n_parts, term_key, "salt")
        .sortWithinPartitions(term_key, "salt", "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )

    def pack_iter(batches):
        # Arrow end to end: concat of record batches is buffer reuse,
        # not a pandas object-string copy (whole partition bounded by
        # n_parts sizing)
        import pyarrow as pa

        chunks = list(batches)
        if not chunks:
            return
        rb = seg.pack_table(
            pa.Table.from_batches(chunks),
            segment, paths["postings"], paths["checkpoints"], with_positions,
            with_offsets=with_offsets,
            vocab=bc_vocab.value if bc_vocab is not None else None,
        )
        if rb is not None:
            yield rb

    ckpts = shuffled.mapInArrow(pack_iter, seg.CHECKPOINT_SCHEMA)
    ckpt_rows = ckpts.collect()  # small: one row per partition (lineage table)
    mark("shuffle+pack")

    # per-term stats (term, df, ttf) — terms dict .tmd analogue, computed
    # from the packed blocks' METADATA columns (no re-tokenize, and the
    # binary payload columns are pruned from the scan)
    (
        spark.read.parquet(paths["postings"])
        .groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("ttf"))
        .repartitionByRange(max(n_parts // 4, 1), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(paths["terms"])
    )
    mark("terms_stats")
    agg = type("S", (), {"n_docs": agg_row["n_docs"], "sum_dl": agg_row["sum_dl"]})
    if profile:
        import sys

        prev = 0.0
        for label, at in marks:
            print(f"[build-profile] {label}: +{at - prev:.2f}s (t={at:.2f})", file=sys.stderr)
            prev = at

    stats = {
        "segment": segment,
        "n_docs": int(agg.n_docs),
        "sum_dl": int(agg.sum_dl),
        "avgdl": agg.sum_dl / agg.n_docs if agg.n_docs else 0.0,
        "with_positions": with_positions,
        "with_offsets": with_offsets,
        "index_options": (
            "DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS"
            if with_offsets
            else "DOCS_AND_FREQS_AND_POSITIONS"
            if with_positions
            else "DOCS_AND_FREQS"
        ),
        "doc_id_base": doc_id_base,
    }
    seg.write_stats(index_dir, segment, stats)

    elapsed = time.monotonic() - t0
    n_postings = sum(r.n_postings or 0 for r in ckpt_rows)
    bytes_packed = sum(r.bytes_packed or 0 for r in ckpt_rows)
    manifest_row = {
        "segment": segment,
        "generation": generation,
        "status": "live",
        "n_docs": int(agg.n_docs),
        "sum_dl": int(agg.sum_dl),
        "n_postings": int(n_postings),
        "bytes_packed": int(bytes_packed),
        "n_partitions": len(ckpt_rows),
        "elapsed_sec": elapsed,
        "docs_per_sec": agg.n_docs / elapsed if elapsed else 0.0,
        "postings_per_sec": n_postings / elapsed if elapsed else 0.0,
        "source": "build",
        "resumed_partitions": sum(
            1 for r in ckpt_rows if r.status == "skipped_checkpoint"
        ),
    }
    seg.write_manifest_row(index_dir, manifest_row)
    if persist_tokens:
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

    Same scale shape as build_index from the tf stage on: one posting-
    volume shuffle on (term, salt) into the pack kernel, df-driven
    contiguous-range hot-term salting, map-side partial aggs for
    norms/hot detection. The extra dl join (build_index carries dl
    inline from the tokenizer) is one doc-keyed shuffle of the
    postings; AQE broadcast-joins it when the norms side is small."""
    spark = postings.sparkSession
    t0 = time.monotonic()
    with_positions = "positions" in postings.columns
    generation = seg.next_generation(index_dir)
    segment = segment or f"seg{generation:06d}"
    paths = seg.segment_paths(index_dir, segment)
    n_parts = n_partitions or spark.sparkContext.defaultParallelism

    from pyspark import StorageLevel

    # three consumers (norms, hot detection, the pack shuffle) — same
    # staging rationale as build_index's token cache
    postings = postings.persist(StorageLevel.MEMORY_AND_DISK)

    from pyspark.sql import Observation

    obs = Observation("corpus_stats")
    (
        postings.groupBy("doc_id")
        .agg(F.sum("tf").cast("long").alias("dl"))
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .write.mode("overwrite")
        .parquet(paths["norms"])
    )
    agg_row = obs.get
    b_lo, b_hi = agg_row["lo"], agg_row["hi"]
    span = int(b_hi) - int(b_lo) + 1 if b_lo is not None else 1

    # exact hot-term dfs: the (doc, term) collapse already happened
    # upstream, so df is a plain count — no sampling pass needed
    hot = (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > salt_df_threshold)
        .select("term", F.lit(1).alias("_hot"))
    )

    tf = postings.join(
        spark.read.parquet(paths["norms"]), "doc_id"
    ).join(F.broadcast(hot), "term", "left")
    tf = tf.withColumn(
        "salt",
        F.when(
            F.col("_hot").isNotNull(),
            F.least(
                F.lit(n_salts),
                (
                    F.lit(1)
                    + F.floor(
                        (F.col("doc_id") - F.lit(int(b_lo or 0)))
                        * F.lit(n_salts)
                        / F.lit(span)
                    )
                ).cast("int"),
            ),
        ).otherwise(F.lit(0)),
    ).drop("_hot")

    # THE shuffle: hash on (term, salt), JVM sort within partitions —
    # identical contract to build_index (hash, not range, so resume
    # fingerprints stay a pure function of the data)
    shuffled = (
        tf.repartition(n_parts, "term", "salt")
        .sortWithinPartitions("term", "salt", "doc_id")
        .withColumn("pid", F.spark_partition_id())
    )

    def pack_iter(batches):
        import pyarrow as pa

        chunks = list(batches)
        if not chunks:
            return
        rb = seg.pack_table(
            pa.Table.from_batches(chunks),
            segment, paths["postings"], paths["checkpoints"], with_positions,
        )
        if rb is not None:
            yield rb

    ckpt_rows = shuffled.mapInArrow(pack_iter, seg.CHECKPOINT_SCHEMA).collect()

    (
        spark.read.parquet(paths["postings"])
        .groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("ttf"))
        .repartitionByRange(max(n_parts // 4, 1), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(paths["terms"])
    )

    stats = {
        "segment": segment,
        "n_docs": int(agg_row["n_docs"]),
        "sum_dl": int(agg_row["sum_dl"]),
        "avgdl": agg_row["sum_dl"] / agg_row["n_docs"] if agg_row["n_docs"] else 0.0,
        "with_positions": with_positions,
        "with_offsets": False,
        "index_options": (
            "DOCS_AND_FREQS_AND_POSITIONS" if with_positions else "DOCS_AND_FREQS"
        ),
        "doc_id_base": None,
    }
    seg.write_stats(index_dir, segment, stats)

    elapsed = time.monotonic() - t0
    n_postings = sum(r.n_postings or 0 for r in ckpt_rows)
    manifest_row = {
        "segment": segment,
        "generation": generation,
        "status": "live",
        "n_docs": int(agg_row["n_docs"]),
        "sum_dl": int(agg_row["sum_dl"]),
        "n_postings": int(n_postings),
        "bytes_packed": int(sum(r.bytes_packed or 0 for r in ckpt_rows)),
        "n_partitions": len(ckpt_rows),
        "elapsed_sec": elapsed,
        "docs_per_sec": agg_row["n_docs"] / elapsed if elapsed else 0.0,
        "postings_per_sec": n_postings / elapsed if elapsed else 0.0,
        "source": source,
        "resumed_partitions": sum(
            1 for r in ckpt_rows if r.status == "skipped_checkpoint"
        ),
    }
    seg.write_manifest_row(index_dir, manifest_row)
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
    # prune to the needed columns BEFORE the enumeration UDF (column-
    # pruning barrier, see assign_doc_ids)
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
