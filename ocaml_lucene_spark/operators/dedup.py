"""Deduplication operators for large-scale training-data pipelines.

All five families, each a declarative DataFrame plan (JVM expressions,
no Python in the hot path) with a matching DuckDB oracle in
query/oracle_sql_ops.py:

- exact:        md5(text) hash-groupBy; canonical = min doc_id
- minhash-lsh:  word-shingles -> per-permutation min(md5(seed|shingle))
                signatures -> banded LSH bucket join -> candidate pairs
                with estimated Jaccard (fraction of equal components)
- simhash:      per-token 60-bit hash, tf-weighted bit-majority
- ngram-jaccard: exact Jaccard over distinct shingle sets via a
                shared-shingle join (the verifier stage behind LSH)
- embedding:    cosine near-dup pairs inside sign-bit LSH buckets
                (operators/ann.py provides the primitives)

Scale notes: exact/minhash/simhash are linear + one shuffle each.
ngram-jaccard's pair join is quadratic in bucket size — at 10^12 docs
it is only ever run on LSH candidate pairs (compose: minhash_candidates
-> exact jaccard verify), never on the raw corpus. Hash functions are
md5 (same bytes in Spark and DuckDB), making every stage oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.analysis import tokens_col

N_MINHASH = 16
LSH_BANDS = 4  # 16 signatures / 4 rows per band


def shingles_col(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (distinct not applied).

    The tokenize is BOUND ONCE via a one-element-array transform (a
    let-binding: the lambda variable ``t`` is a cheap attribute inside
    every inner expression). The r1-r8 form inlined ``tokens_col`` four
    times — fatally, once inside the per-shingle slice lambda, so every
    shingle re-tokenized the whole document: O(dl^2) per doc, measured
    as ~30s+ of the sf1 minhash cold path for what is now <2s."""
    toks = tokens_col(text)

    def build(t: Column) -> Column:
        return F.when(F.size(t) < n, F.array(F.array_join(t, " "))).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.array_join(F.slice(t, i + 1, n), " "),
            )
        )

    return F.transform(F.array(toks), build).getItem(0)


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(text_hash, n_docs, canonical_doc_id) per distinct text; dup
    groups are rows with n_docs > 1. One hash-groupBy shuffle."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_doc_id"))
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_hashes: int = N_MINHASH
) -> DataFrame:
    """(doc_id, sig_0..sig_{n-1}): per-'permutation' minimum of
    md5(seed|shingle) — strings compare lexicographically identically
    in Spark and DuckDB, so signatures are oracle-checkable."""
    from ..session import ensure_compute_parallelism

    sh = shingles_col(text_col).alias("sh")
    base = ensure_compute_parallelism(docs).select(F.col(id_col).alias("doc_id"), sh)

    def seeded_md5(h: int):
        # arity-1 lambda: F.transform passes (elem, idx) to arity-2
        # lambdas, which would silently shadow the seed
        return lambda s: F.md5(F.concat(F.lit(f"{h}|"), s))

    cols = [
        F.array_min(F.transform("sh", seeded_md5(h))).alias(f"sig_{h}")
        for h in range(n_hashes)
    ]
    return base.select("doc_id", *cols)


def _record_persisted(out: DataFrame, staging: DataFrame) -> DataFrame:
    """Record a persisted staging relation on the result so callers can
    release it: persisted DataFrames live in the session's CacheManager
    until explicit unpersist (they are NOT reference-tracked like RDDs),
    so each un-released call leaks disk blocks for the session's
    lifetime. Callers own the lineage — call unpersist_staging(result)
    once the result is materialized (collect/write); re-using the
    result afterwards recomputes the staging relation."""
    held = list(getattr(out, "_olspark_persisted", []))
    held.append(staging)
    out._olspark_persisted = held
    return out


def unpersist_staging(df: DataFrame) -> None:
    """Release the persisted staging relations recorded by operators in
    this module on ``df`` (see _record_persisted). Safe to call twice."""
    for p in getattr(df, "_olspark_persisted", []):
        p.unpersist()
    df._olspark_persisted = []


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs;
    est_jaccard = fraction of equal signature components.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b. The band
    join is an equi-join on (band_id, band_hash) — co-partitioned by
    Catalyst, quadratic only within a bucket (by construction small).

    Plan (2 shuffles): the flat signature columns ride THROUGH the
    band explode, so est_jaccard is computed inside the band join
    itself (one codegen'd string comparison per hash) and one groupBy
    dedups pairs that collide in several bands. The round-1 plan instead ran
    distinct() on pairs and re-joined the signature table twice —
    three shuffles and the slowest bench query (11.2 s -> target ~5)."""
    # DISK_ONLY persist of the FLAT signature frame: both sides of the
    # self-join read this relation — without it Spark recomputes the
    # shingle+16-md5 pipeline twice. The persist point matters (r9):
    # r1-r8 persisted the post-explode banded frame, whose
    # array<string> sigs column made the columnar cache serializer the
    # dominant cost (measured at sf1: ~36s to materialize the 200k-row
    # array cache vs ~8s to compute it; flat 16-string-column rows
    # serialize an order of magnitude faster and hold 1/bands the
    # rows). Banding re-derives from the cache on each side — 4
    # concat+md5 per doc, trivial next to the 16-per-shingle stage the
    # cache exists to not recompute. DISK_ONLY (not .cache): at 100 TB
    # this is a materialized staging table, not a memory-pressure
    # default competing with shuffle/exec memory.
    from pyspark import StorageLevel

    sigs = minhash_signatures(docs, id_col, text_col, n_hashes).persist(
        StorageLevel.DISK_ONLY
    )
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.md5(F.concat_ws("|", *parts)).alias("band_hash"))
        )
    banded = sigs.select(
        "doc_id",
        *[F.col(f"sig_{h}") for h in range(n_hashes)],
        F.explode(F.array(*band_cols)).alias("b"),
    ).select("doc_id", *[f"sig_{h}" for h in range(n_hashes)], "b.band_id", "b.band_hash")
    l, r = banded.alias("l"), banded.alias("r")
    # est = fraction of equal components, as 16 flat codegen'd string
    # comparisons — the r1-r8 zip_with+aggregate fold built two arrays
    # per joined pair and ran interpreted; same integers either way.
    eq_sum = None
    for h in range(n_hashes):
        term = (F.col(f"l.sig_{h}") == F.col(f"r.sig_{h}")).cast("int")
        eq_sum = term if eq_sum is None else eq_sum + term
    est = eq_sum / float(n_hashes)
    out = (
        l.join(r, ["band_id", "band_hash"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.round(est, 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )
    return _record_persisted(out, sigs)


def ngram_jaccard_pairs(
    docs: DataFrame,
    min_jaccard: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int | None = 500,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a, doc_b, jaccard).

    Shared-shingle equi-join computes |A∩B|; |A∪B| = |A|+|B|-|A∩B|.
    Quadratic within shingle buckets: a shingle shared by m docs emits
    m^2/2 join rows, so ``max_shingle_df`` is SAFE BY DEFAULT (500):
    hotter shingles are dropped from the shingle space — Jaccard is
    then computed over the capped space on both sides of the union,
    and a Zipf-head (or adversarial universal) shingle cannot create a
    quadratic blowup. Pass ``max_shingle_df=None`` to opt out for an
    exhaustive exact join (test scale only, the loud dangerous call),
    or run the composed ``near_dup_pairs`` pipeline, whose verify join
    is driven by LSH candidate pairs instead of shared shingles."""
    from ..session import ensure_compute_parallelism

    sh = (
        ensure_compute_parallelism(docs).select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(shingles_col(text_col, n))).alias("sh"),
        )
    )
    if max_shingle_df is not None:
        # hot-shingle cap: the > df head of the shingle Zipf curve is
        # vocabulary-bounded and tiny, so it broadcasts
        hot = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") > max_shingle_df)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    l, r = sh.alias("l"), sh.alias("r")
    inter = (
        l.join(r, "sh")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(sa, inter.doc_a == F.col("sa.doc_id"))
        .join(sb, inter.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def near_dup_pairs(
    docs: DataFrame,
    min_jaccard: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    min_est_jaccard: float = 0.25,
) -> DataFrame:
    """The composed near-dup pipeline: MinHash-LSH candidate generation
    -> exact n-gram Jaccard verify on the candidate pairs ONLY.

    Returns (doc_a, doc_b, jaccard) with exact Jaccard >= min_jaccard,
    restricted to LSH candidates (standard LSH recall semantics; the
    banding (16 hashes / 4 bands) makes missing a >=0.8-Jaccard pair
    exponentially unlikely).

    Scale shape: the verify join is DRIVEN BY the candidate pairs —
    work ∝ Σ over candidates of (|A|+|B|) shingles — never by shared
    shingles, so a universal shingle cannot create a quadratic blowup
    (adversarial test in tests/test_dedup_ann.py)."""
    from ..session import ensure_compute_parallelism

    _cand_full = minhash_candidate_pairs(
        docs, id_col, text_col, n_hashes, bands, min_est_jaccard
    )
    cands = _cand_full.select("doc_a", "doc_b")
    sh = ensure_compute_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles_col(text_col, n))).alias("sh"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # |A∩B| per candidate pair: attach A's shingles, keep rows whose
    # shingle also appears in B (equi-join on (doc_b, sh))
    a_sh = cands.join(
        sh.withColumnRenamed("doc_id", "doc_a"), "doc_a"
    )  # (doc_a, doc_b, sh)
    inter = (
        a_sh.join(
            sh.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"]
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    out = (
        inter.join(sa, inter.doc_a == F.col("sa.doc_id"))
        .join(sb, inter.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    for p in getattr(_cand_full, "_olspark_persisted", []):
        _record_persisted(out, p)
    return out


# per-worker md5 cache for the simhash kernel: term -> 60-bit hash.
# Vocabulary-bounded (Heaps law) locally; capped so a pathological
# corpus cannot grow it without bound in a reused python worker.
_SIMHASH_MD5_CACHE: dict[str, int] = {}
_SIMHASH_MD5_CACHE_MAX = 4_000_000


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60,
    impl: str = "kernel",
) -> DataFrame:
    """(doc_id, simhash): tf-weighted bit-majority over per-token 60-bit
    md5-derived hashes, truncated to ``bits``. Docs whose token list is
    empty produce no output row (both impls).

    impl="kernel" (default, r9): the signature is a pure function of
    ONE doc's token multiset, so the whole computation is partition-
    local — JVM tokenize, then one vectorized mapInPandas pass (term
    counts via np.unique over (doc, term-code) keys, md5 through a
    per-worker cache, per-bit signed sums as ``bits`` C-level
    bincounts) and ZERO exchanges after the compute repartition. The
    r1-r8 shuffle plan moved 10M (doc,term) rows through a hash agg,
    exploded them 60x through a second agg, and packed bits through a
    third — three exchanges and ~600M row-aggregations at sf1 for
    output that depends on no cross-doc state. All arithmetic is exact
    integers (float64 bincount weights stay exact below 2^53), md5
    bytes are identical to the JVM's, so the two impls are
    value-identical (pinned by test).

    impl="shuffle": the r1-r8 explode + partial-agg plan, kept as the
    cross-check and for callers that want no Python boundary. (Within
    the shuffle family, the 60-wide conditional-sum agg variant
    measured 1.3x slower than the explode at sf0.1 — do not resurrect
    it.)

    Sizing: ``bits`` defaults to the FULL 60 hash bits (15 hex chars of
    md5) — a truncated signature space saturates at corpus scale (32
    bits ≈ 4·10⁹ distinct signatures; at 10¹² docs every signature
    collides ~250×, and the max_hamming+1 blocking slices get
    bits/(d+1)-wide keys whose buckets go quadratic). Rule of thumb for
    the downstream blocking join: slice width ≈ log2(n_docs /
    target_bucket_rows); with d = 3 the 60-bit default gives 15-bit
    slices (32k buckets per slice) — pair that with
    ``simhash_pairs_from_signatures(max_bucket_size=...)`` when one
    slice-key bucket may still exceed executor-comfortable row counts."""
    from ..session import ensure_compute_parallelism

    if impl == "kernel":
        base = ensure_compute_parallelism(docs).select(
            F.col(id_col).alias("doc_id"), tokens_col(text_col).alias("toks")
        )

        def kernel(batches):
            import hashlib

            import numpy as np
            import pandas as pd

            cache = _SIMHASH_MD5_CACHE
            shifts = range(bits)

            def h_of(t: str) -> int:
                v = cache.get(t)
                if v is None:
                    v = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                    if len(cache) >= _SIMHASH_MD5_CACHE_MAX:
                        cache.clear()
                    cache[t] = v
                return v

            for pdf in batches:
                toks = pdf["toks"]
                n = len(toks)
                if not n:
                    continue
                sizes = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n)
                keep = sizes > 0  # empty docs emit no row (explode semantics)
                if not keep.any():
                    continue
                doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
                flat = np.concatenate([np.asarray(t, dtype=object) for t in toks[keep]])
                doc_idx = np.repeat(np.flatnonzero(keep), sizes[keep])
                codes, uniques = pd.factorize(flat)
                # per-(doc, term) tf: one sort-based unique over a
                # combined int key — C speed, no Python per token
                key = doc_idx * np.int64(len(uniques)) + codes
                ukey, tf = np.unique(key, return_counts=True)
                doc_of = (ukey // len(uniques)).astype(np.int64)
                code_of = (ukey % len(uniques)).astype(np.int64)
                h_uniq = np.fromiter(
                    (h_of(t) for t in uniques), dtype=np.int64, count=len(uniques)
                )
                h = h_uniq[code_of]
                tf_f = tf.astype(np.float64)  # exact: tf < 2^53
                n_out = int(doc_of.max()) + 1
                total = np.bincount(doc_of, weights=tf_f, minlength=n_out)
                sig = np.zeros(n_out, dtype=np.int64)
                for j in shifts:
                    s_j = np.bincount(
                        doc_of, weights=tf_f * ((h >> j) & 1), minlength=n_out
                    )
                    # signed sum > 0  <=>  2 * ones-weighted sum > total
                    sig |= (2.0 * s_j > total).astype(np.int64) << j
                # doc_of values ARE original pdf positions (doc_idx was
                # built from flatnonzero(keep)), so index directly
                present = np.unique(doc_of)
                yield pd.DataFrame(
                    {
                        "doc_id": doc_ids[present],
                        "simhash": sig[present],
                    }
                )

        return base.mapInPandas(kernel, "doc_id long, simhash long")

    tf = (
        ensure_compute_parallelism(docs)
        .select(F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    h = F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long")
    bitsum = (
        tf.withColumn("h", h)
        .select(
            "doc_id",
            "tf",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"),
            "h",
        )
        .withColumn(
            "contrib",
            F.when(F.expr("(h >> j) & 1") == 1, F.col("tf")).otherwise(-F.col("tf")),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("contrib").alias("s"))
    )
    return (
        bitsum.withColumn(
            "bit",
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(
                F.lit(0).cast("long")
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("bit").alias("simhash"))
    )


def simhash_slices(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """Pigeonhole slice plan: ``max_hamming + 1`` contiguous bit ranges
    as (offset, width). With d errors spread over d+1 disjoint slices,
    at least one slice is error-free, so blocking on every slice has
    FULL recall for Hamming distance <= max_hamming. (Two 16-bit halves
    — the round-3 scheme — only guarantee d <= 1: 3 flips can split 2+1
    across the halves so neither half matches.) Widths differ by at
    most 1 when ``bits`` isn't divisible."""
    n = max_hamming + 1
    if n > bits:
        raise ValueError(f"max_hamming={max_hamming} needs {n} slices > {bits} bits")
    base, rem = divmod(bits, n)
    out, off = [], 0
    for i in range(n):
        w = base + (1 if i < rem else 0)
        out.append((off, w))
        off += w
    return out


def simhash_pairs_from_signatures(
    sig: DataFrame, max_hamming: int = 3, bits: int = 60,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) from a (doc_id, simhash) frame. Blocked
    LSH self-join: explode each signature into max_hamming+1 slice keys
    (see simhash_slices — exact recall by pigeonhole), equi-join on
    (part, key), verify exact Hamming with bit_count. Quadratic only
    within a slice bucket; at 100 TB the join shuffles on (part, key)
    and never forms cross-bucket pairs.

    max_bucket_size: guard against degenerate slice-key buckets (e.g. a
    near-constant bit range across the corpus): rows in a (part, key)
    bucket larger than this are excluded from THAT slice's candidate
    join — the same escape hatch as ngram_jaccard's max_shingle_df.
    None (default) keeps the pigeonhole EXACT-recall contract; a capped
    run keeps full recall for any pair that still shares an uncapped
    error-free slice, and loses only pairs all of whose clean slices
    were capped. The count pass reuses the blocking shuffle key, so the
    guard costs one extra aggregation, not a new join shape."""
    blocked = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("part"),
                        (
                            F.shiftright("simhash", off).bitwiseAND(F.lit((1 << w) - 1))
                        ).alias("key"),
                    )
                    for i, (off, w) in enumerate(simhash_slices(bits, max_hamming))
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.part", "b.key")
    if max_bucket_size is not None:
        counts = blocked.groupBy("part", "key").agg(F.count("*").alias("_bn"))
        blocked = (
            blocked.join(counts, ["part", "key"])
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    l, r = blocked.alias("l"), blocked.alias("r")
    return (
        l.join(r, ["part", "key"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id",
    text_col: str = "text", bits: int = 60,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs within Hamming distance; blocked on
    max_hamming+1 bit slices (exact recall — simhash_slices; 60-bit
    default and sizing rule documented on simhash_signatures /
    simhash_pairs_from_signatures)."""
    sig = simhash_signatures(docs, id_col, text_col, bits)
    return simhash_pairs_from_signatures(sig, max_hamming, bits, max_bucket_size)


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: the training-data hygiene pass that
    flags corpus documents sharing at least one word ``n``-gram with an
    evaluation/benchmark set (the n-gram-overlap protocol GPT-3/PaLM
    style pretraining pipelines run before training). Returns
    (doc_id, n_overlap) — the count of DISTINCT corpus-doc n-grams
    that appear anywhere in the benchmark — for contaminated docs
    only, ordered by doc_id.

    Scale shape: the benchmark's distinct n-gram set is tiny next to a
    100 TB corpus (benchmarks are MBs), so it BROADCASTS; the corpus
    side is one scan -> shingle explode -> distinct-per-doc -> hash
    join against the broadcast -> per-doc count. No self-join, no
    corpus-side shuffle of text — the only wide exchange carries
    (doc_id, matched n-gram) survivors."""
    bench_grams = (
        benchmark.select(
            F.explode(shingles_col(F.col(bench_text_col), n)).alias("g")
        )
        .distinct()
    )
    corpus = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(shingles_col(F.col(text_col), n))).alias("g"),
    )
    return (
        corpus.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .orderBy("doc_id")
    )


def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the
    step after LSH+verify that turns pairwise matches into dedup
    GROUPS (keep one canonical doc per component). Returns
    (doc_id, cluster_id) for every doc appearing in ``pairs``
    (columns doc_a, doc_b), cluster_id = the smallest doc_id reachable
    through the pair graph; ordered by doc_id.

    Min-label propagation to a fixed point: every node starts labeled
    with itself; each iteration every node takes the min of its own
    and its neighbors' labels (one join + one groupBy per iteration —
    plain exchanges, AQE-friendly); converges in O(component diameter)
    iterations, and near-dup components are shallow (dups of one
    source doc), so the loop is short at any corpus size. The driver
    only ever sees the one-integer convergence count per iteration.
    Raises if max_iters passes without a fixed point (no silent
    partial clustering)."""
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    und = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .cache()
    )
    for _ in range(max_iters):
        nbr_min = (
            und.join(
                labels.select(
                    F.col("node").alias("b"), F.col("label").alias("nlabel")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nlabel").alias("nbr_label"))
            .select(F.col("a").alias("node"), "nbr_label")
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .cache()
        )
        changed = (
            new_labels.join(
                labels.select(F.col("node"), F.col("label").alias("old")), "node"
            )
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(f"dedup_clusters did not converge in {max_iters} iterations")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).orderBy("doc_id")


def cross_doc_repetition(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_grams, cross_dup_frac): per-doc fraction of word
    n-gram OCCURRENCES whose n-gram also appears in at least one
    OTHER document — the corpus-level duplicated-substring signal
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": docs dominated by cross-document repeated spans
    are boilerplate/template suspects even when no whole-doc dup
    fires). The within-doc complement is repetition_signals'
    dup_3gram_frac; this one compares against the REST of the corpus
    (df counts distinct DOCS, so a gram repeated only inside one doc
    does not count).

    Determinism: counts-over-counts — the fraction is a RATIO OF
    EXACT INTEGERS and rounds via _div_round_expr (integer
    half-away-from-zero); non-negative, no signed-zero exposure.

    Scale shape: shingle explode -> per-(doc, gram) occurrence counts
    [shuffle 1, map-side combine]; gram df = count over the distinct
    (doc, gram) frame reusing the same keyed data [gram-vocab-sized,
    Heaps-bounded]; df joins back on gram (AQE broadcasts when it
    fits) and one per-doc regroup [shuffle 2]. No self-join, no pair
    materialization — the same two-shuffle shape as
    bigram_collocations."""
    from ..query.grouping import _div_round_expr

    occ = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles_col(F.col(text_col), n)).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("occ"))
    )
    gdf = occ.groupBy("g").agg(F.count("*").alias("df"))
    return (
        occ.join(gdf, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("_total"),
            F.sum(F.when(F.col("df") >= 2, F.col("occ")).otherwise(0)).alias("_dup"),
        )
        .select(
            "doc_id",
            F.col("_total").cast("long").alias("n_grams"),
            (
                F.expr(_div_round_expr("_dup", "_total")).cast("double")
                / F.lit(10000.0)
            ).alias("cross_dup_frac"),
        )
        .orderBy("doc_id")
    )


def dup_spans(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, span_start, span_end, span_len): maximal token spans
    covered by word n-grams appearing in >= 2 DISTINCT documents —
    the ExactSubstr dedup surface (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), re-expressed for
    Spark: the suffix-array sort becomes a shuffle on the n-gram, the
    duplicated-range merge becomes gaps-and-islands over token
    positions. cross_doc_repetition reports the per-doc FRACTION of
    this signal; this one emits the actual cut list a cleaning pass
    consumes. span_start/span_end are 1-based token positions,
    inclusive; a lone duplicated n-gram yields span_len == n, and
    overlapping duplicated grams merge (consecutive start positions
    form one island).

    Determinism: pure integer arithmetic end-to-end; the output
    carries a bespoke total order (doc_id, span_start) — island
    starts are unique within a doc, so the order is total.

    Scale shape: position explode -> gram df over distinct docs
    [shuffle 1, map-side partial agg]; LEFT-SEMI join back on gram
    flags duplicated occurrences (row count preserved — no pair
    materialization, so hot boilerplate grams cannot explode the
    join); islands take one per-doc window [shuffle 2, partition
    bounded by doc length]. Docs shorter than n tokens cannot form an
    n-gram and are excluded on BOTH sides (no whole-doc fallback
    shingle here, unlike shingles_col).
    """
    from pyspark.sql import Window

    toks = tokens_col(F.col(text_col))
    pos = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
        .filter(F.size("t") >= n)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - n),
                    lambda i: F.array_join(F.slice("t", i + 1, n), " "),
                )
            ).alias("pos0", "g"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    )
    dupg = (
        pos.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("g")
    )
    flagged = pos.join(dupg, "g", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = flagged.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
        .select(
            "doc_id",
            F.col("_s").cast("long").alias("span_start"),
            (F.col("_e") + n - 1).cast("long").alias("span_end"),
            (F.col("_e") + n - F.col("_s")).cast("long").alias("span_len"),
        )
        .orderBy("doc_id", "span_start")
    )
