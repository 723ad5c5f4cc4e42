"""Semantic tests for dedup + ANN operators on data with known structure:
the generated corpus plants ~2% exact and ~3% near duplicates
(sources/corpus.py), so the operators must actually find them."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocaml_lucene_spark.operators import ann, dedup


@pytest.fixture(scope="module")
def docs(spark, tiny_corpus):
    from ocaml_lucene_spark.index.build import assign_doc_ids

    return (
        assign_doc_ids(spark.read.parquet(tiny_corpus))
        .select("doc_id", "text")
        .cache()
    )


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()


def test_exact_dedup_finds_planted(spark, docs):
    groups = dedup.exact_dup_groups(docs).filter(F.col("n_docs") > 1).collect()
    n_dup_docs = sum(g.n_docs - 1 for g in groups)
    # corpus plants 2% exact dups of 800 docs = 16 (minus collisions)
    assert n_dup_docs >= 10, n_dup_docs
    # canonical is the smallest doc id of each group
    texts = {r.doc_id: r.text for r in docs.collect()}
    for g in groups:
        members = [d for d, t in texts.items() if t == texts[g.canonical_doc_id]]
        assert g.canonical_doc_id == min(members)


def test_minhash_finds_near_dups(spark, docs):
    pairs = dedup.minhash_candidate_pairs(docs, min_est_jaccard=0.5).collect()
    assert len(pairs) >= 10, len(pairs)
    # every exact dup pair must be a candidate with est_jaccard == 1
    exact = {
        (g.canonical_doc_id, g.n_docs)
        for g in dedup.exact_dup_groups(docs).filter(F.col("n_docs") > 1).collect()
    }
    perfect = [p for p in pairs if p.est_jaccard == 1.0]
    assert len(perfect) >= len(exact) * 0 + 5


def test_minhash_staging_persist_is_releasable(spark, docs):
    """minhash_candidate_pairs persists its banded staging relation
    (DISK_ONLY); without unpersist_staging it would leak CacheManager
    disk blocks for the session lifetime (persisted DataFrames are not
    reference-tracked). The recorded handle must release it, and the
    composed near_dup_pairs must propagate the handle."""
    from pyspark import StorageLevel

    out = dedup.minhash_candidate_pairs(docs, min_est_jaccard=0.5)
    out.collect()
    held = out._olspark_persisted
    assert len(held) == 1
    assert held[0].storageLevel == StorageLevel.DISK_ONLY
    dedup.unpersist_staging(out)
    assert held[0].storageLevel == StorageLevel.NONE
    assert out._olspark_persisted == []
    dedup.unpersist_staging(out)  # idempotent

    nd = dedup.near_dup_pairs(docs, min_jaccard=0.5)
    assert len(nd._olspark_persisted) == 1
    nd.collect()
    dedup.unpersist_staging(nd)
    assert nd._olspark_persisted == []


@pytest.mark.parametrize("name", ["minhash_candidate_pairs", "near_dup_pairs"])
def test_gate_query_staging_is_releasable(spark, name):
    """The gate's all-columns sort (__spark_entry__._canonical) keeps the
    operator's staging handle: releasing the collected gate frame leaves
    no persisted RDD behind."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} absent")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    df = entry.queries()[name](spark, sf)
    df.collect()
    assert len(df._olspark_persisted) == 1
    dedup.unpersist_staging(df)
    assert set(jsc.getPersistentRDDs().keys()) == before


def test_minhash_estimates_track_exact_jaccard(spark, docs):
    est = {
        (p.doc_a, p.doc_b): p.est_jaccard
        for p in dedup.minhash_candidate_pairs(docs, min_est_jaccard=0.3).collect()
    }
    exact = {
        (p.doc_a, p.doc_b): p.jaccard
        for p in dedup.ngram_jaccard_pairs(docs, min_jaccard=0.3).collect()
    }
    common = set(est) & set(exact)
    assert len(common) >= 10
    errs = [abs(est[k] - exact[k]) for k in common]
    assert np.mean(errs) < 0.25, np.mean(errs)  # 16 hashes -> coarse but sane


def test_simhash_near_pairs_hit_near_dups(spark, docs):
    near = dedup.simhash_near_pairs(docs, max_hamming=6).collect()
    exact_pairs = dedup.ngram_jaccard_pairs(docs, min_jaccard=0.95).collect()
    near_set = {(p.doc_a, p.doc_b) for p in near}
    hits = sum(1 for p in exact_pairs if (p.doc_a, p.doc_b) in near_set)
    assert hits >= max(1, int(0.8 * len(exact_pairs))), (hits, len(exact_pairs))


def test_simhash_planted_2plus1_split_pair(spark):
    """Regression for the round-3 blocking bug: a Hamming-3 pair whose
    flipped bits split 2+1 across the old 16-bit halves (bits 0, 1 in
    the low half, bit 17 in the high half) — neither half matches, so
    2-half blocking silently dropped it. The sound max_hamming+1-slice
    pigeonhole blocking must find it."""
    a = 0x12345678
    b = a ^ 0b11 ^ (1 << 17)  # flips bits 0,1 (low half) + 17 (high half)
    assert bin(a ^ b).count("1") == 3
    assert (a & 0xFFFF) != (b & 0xFFFF) and (a >> 16) != (b >> 16)
    sig = spark.createDataFrame(
        [(0, a), (1, b), (2, 0x7FEDC001)], "doc_id long, simhash long"
    )
    got = dedup.simhash_pairs_from_signatures(sig, max_hamming=3, bits=32).collect()
    assert {(p.doc_a, p.doc_b, p.hamming) for p in got} == {(0, 1, 3)}


def test_simhash_blocking_full_recall_brute_force(spark, docs):
    """Independent (non-SQL, non-blocked) oracle: numpy all-pairs
    Hamming over the real corpus signatures must equal the blocked
    join's output exactly — the pigeonhole blocking loses nothing."""
    sig_rows = dedup.simhash_signatures(docs).collect()
    ids = np.array([r.doc_id for r in sig_rows])
    sigs = np.array([r.simhash for r in sig_rows], dtype=np.uint64)
    xor = sigs[:, None] ^ sigs[None, :]
    ham = np.zeros_like(xor, dtype=np.int64)
    v = xor.copy()
    while v.any():
        ham += (v & 1).astype(np.int64)
        v >>= 1
    ii, jj = np.where((ham <= 3) & (ids[:, None] < ids[None, :]))
    expect = {(int(ids[i]), int(ids[j]), int(ham[i, j])) for i, j in zip(ii, jj)}
    got = {
        (p.doc_a, p.doc_b, p.hamming)
        for p in dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    }
    assert got == expect


def test_simhash_slice_plan():
    assert dedup.simhash_slices(32, 3) == [(0, 8), (8, 8), (16, 8), (24, 8)]
    assert dedup.simhash_slices(32, 1) == [(0, 16), (16, 16)]
    offs = dedup.simhash_slices(32, 6)
    assert sum(w for _, w in offs) == 32 and len(offs) == 7
    # the 60-bit scale default: 4 contiguous 15-bit slices
    assert dedup.simhash_slices(60, 3) == [(0, 15), (15, 15), (30, 15), (45, 15)]
    with pytest.raises(ValueError):
        dedup.simhash_slices(4, 10)


def test_simhash_60bit_planted_split_pair(spark):
    """60-bit slicing recall pin: a Hamming-3 pair whose flips land in
    three DIFFERENT 15-bit slices (so only the 4th slice is clean) must
    still be found — pigeonhole over the 60-bit scale default."""
    a = 0x0FEDCBA987654321  # < 2^60
    b = a ^ (1 << 2) ^ (1 << 20) ^ (1 << 33)  # slices 0, 1, 2 dirty
    sig = spark.createDataFrame(
        [(0, a), (1, b), (2, 0x0123456789ABCDE)], "doc_id long, simhash long"
    )
    got = dedup.simhash_pairs_from_signatures(sig, max_hamming=3, bits=60).collect()
    assert {(p.doc_a, p.doc_b, p.hamming) for p in got} == {(0, 1, 3)}


def test_simhash_bucket_guard_caps_degenerate_buckets(spark):
    """max_bucket_size drops only overfull slice buckets: a planted
    pair that shares an uncapped clean slice survives; rows whose every
    shared slice bucket exceeds the cap drop out."""
    a = 0x0FEDCBA987654321
    b = a ^ (1 << 2)  # Hamming 1: slices 1..3 all clean and shared
    # 30 fillers identical in slice 0's key only (bits 0..14) -> that
    # bucket is degenerate; the a/b pair must survive via slices 1..3
    fillers = [
        (100 + i, (a & 0x7FFF) | (i << 15)) for i in range(30)
    ]
    sig = spark.createDataFrame(
        [(0, a), (1, b)] + fillers, "doc_id long, simhash long"
    )
    got = dedup.simhash_pairs_from_signatures(
        sig, max_hamming=3, bits=60, max_bucket_size=10
    ).collect()
    assert (0, 1) in {(p.doc_a, p.doc_b) for p in got}
    uncapped = dedup.simhash_pairs_from_signatures(
        sig, max_hamming=3, bits=60
    ).collect()
    assert {(p.doc_a, p.doc_b) for p in got} <= {
        (p.doc_a, p.doc_b) for p in uncapped
    }


def test_ann_suggest_n_bits_sizing_rule():
    from ocaml_lucene_spark.operators.ann import suggest_n_bits

    assert suggest_n_bits(50_000) == 1          # under target: 2 buckets
    assert suggest_n_bits(10**9) == 14          # ~10^5 rows per bucket
    assert suggest_n_bits(10**12) == 24         # clamp at 24 bits
    assert suggest_n_bits(10**15) == 24


def test_ann_bucket_guard_drops_overfull_bucket(spark):
    """_bucketed_pair_join's max_bucket_size excludes a degenerate
    bucket's members while leaving other buckets' pairs intact."""
    from ocaml_lucene_spark.operators.ann import embedding_near_dup_pairs

    rows = [(i, [1.0, 1.0, float(i % 7)]) for i in range(20)]       # bucket 11...
    rows += [(100, [-1.0, 2.0, 0.0]), (101, [-1.0, 2.0, 0.0])]      # small bucket
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = embedding_near_dup_pairs(
        vecs, min_sim=0.0, n_bits=2, max_bucket_size=5
    ).collect()
    ids = {p.vec_a for p in capped} | {p.vec_b for p in capped}
    assert ids == {100, 101}
    full = embedding_near_dup_pairs(vecs, min_sim=0.0, n_bits=2).collect()
    assert len(full) > len(capped)


def test_ann_lsh_recall_vs_brute_force(spark, vecs):
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.01/embeddings.parquet").to_pylist()
    recalls = []
    for row in t[:5]:
        q = row["embedding"]
        exact = [r.vec_id for r in ann.brute_force_topk(vecs, q, k=10).collect()]
        approx = [r.vec_id for r in ann.lsh_topk(vecs, q, k=10, n_bits=4).collect()]
        recalls.append(len(set(exact) & set(approx)) / 10)
    assert np.mean(recalls) >= 0.15, recalls  # 4-bit LSH on random vectors: weak
    # but self-retrieval always works: nearest neighbor of q is q itself
    r0 = ann.brute_force_topk(vecs, t[0]["embedding"], k=1).collect()[0]
    assert r0.vec_id == t[0]["vec_id"] and r0.sim == 1.0


def test_embedding_near_dup_symmetry(spark, vecs):
    pairs = ann.embedding_near_dup_pairs(vecs, min_sim=0.0, n_bits=6).collect()
    for p in pairs:
        assert p.vec_a < p.vec_b
        assert -1.0001 <= p.sim <= 1.0001


def test_near_dup_pairs_composed(spark):
    """LSH candidates -> exact verify finds the planted near-dups with
    their exact Jaccard values."""
    from ocaml_lucene_spark.operators.dedup import near_dup_pairs, ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(0, base), (1, base), (2, base + " extra"), (3, "totally different words here now")]
    rows += [(10 + i, f"unrelated text number {i} with its own words {i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in near_dup_pairs(docs, min_jaccard=0.5).collect()
    }
    # exact duplicates have jaccard 1.0 and must be found
    assert got.get((0, 1)) == 1.0, got
    # the verified jaccard equals the exhaustive ngram_jaccard value
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    }
    for pair, j in got.items():
        assert exact[pair] == j, (pair, j, exact.get(pair))


def test_universal_shingle_does_not_blow_up(spark):
    """Adversarial: every doc shares one shingle. The capped
    ngram_jaccard and the composed pipeline both stay linear-ish and
    return no false pairs."""
    from ocaml_lucene_spark.operators.dedup import near_dup_pairs, ngram_jaccard_pairs

    common = "alpha beta gamma"  # one 3-shingle shared by all docs
    rows = [(i, f"{common} unique{i} token{i} word{i} extra{i}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = ngram_jaccard_pairs(docs, min_jaccard=0.8, max_shingle_df=50)
    assert capped.count() == 0
    nd = near_dup_pairs(docs, min_jaccard=0.8)
    assert nd.count() == 0
    # the cap is SAFE BY DEFAULT: with >500 docs sharing the shingle,
    # the default call drops it (the uncapped join is the explicit
    # max_shingle_df=None opt-out)
    rows_big = [(i, f"{common} unique{i} token{i} word{i} extra{i}") for i in range(600)]
    docs_big = spark.createDataFrame(rows_big, "doc_id long, text string")
    assert ngram_jaccard_pairs(docs_big, min_jaccard=0.8).count() == 0


def test_ann_indexed_partition_prunes(spark, tmp_path_factory):
    """The persisted bucket-partitioned ANN layout answers identically
    to the on-the-fly LSH scan, and the probe's scan touches only the
    query bucket's partition files (Catalyst partition pruning)."""
    from ocaml_lucene_spark.operators.ann import (
        build_ann_index, lsh_topk, lsh_topk_indexed,
    )

    vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"])
    qv = t.column("embedding").to_pylist()[0]
    idx = str(tmp_path_factory.mktemp("ann_idx"))
    build_ann_index(vecs, idx, n_bits=6)
    got = [(r.vec_id, r.sim) for r in lsh_topk_indexed(spark, idx, qv, k=10, n_bits=6).collect()]
    exp = [(r.vec_id, r.sim) for r in lsh_topk(vecs, qv, k=10, n_bits=6).collect()]
    assert got == exp and got
    # partition pruning: the probe's physical plan carries the bucket
    # equality as a PartitionFilter on the scan (directory-level prune)
    import contextlib
    import io

    qbucket = 0
    for x in qv[:6]:
        qbucket = qbucket * 2 + (1 if x >= 0 else 0)
    from pyspark.sql import functions as F

    probe = spark.read.parquet(idx).filter(F.col("bucket") == qbucket)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and f"bucket#" in plan, plan
    import re

    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and "bucket" in pf.group(1) and str(qbucket) in pf.group(1), plan


def test_ivf_kmeans_and_persisted_layout(spark, tmp_path_factory):
    """Deterministic k-means: the Spark job reproduces the local
    trainer's centroids (per-iteration rounding absorbs float-order
    wobble); the persisted cell-partitioned layout answers identically
    to the on-the-fly ivf_topk and its probe is partition-pruned."""
    import numpy as np
    import pyarrow.parquet as pq

    from ocaml_lucene_spark.operators.ann import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        kmeans_centroids,
        kmeans_centroids_local,
    )

    vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    cents_local = kmeans_centroids_local(
        t.column("embedding").to_pylist(), t.column("vec_id").to_pylist(), k=4, n_iters=3
    )
    cents_spark = kmeans_centroids(vecs, k=4, n_iters=3)
    assert np.allclose(cents_local, cents_spark, atol=1e-5), (
        cents_local, cents_spark,
    )

    qv = t.column("embedding").to_pylist()[0]
    idx = str(tmp_path_factory.mktemp("ivf_idx"))
    build_ivf_index(vecs, idx, cents_local)
    got = [
        (r.vec_id, r.sim)
        for r in ivf_topk_indexed(spark, idx, qv, cents_local, k=10, n_probe=2).collect()
    ]
    exp = [
        (r.vec_id, r.sim)
        for r in ivf_topk(vecs, qv, cents_local, k=10, n_probe=2).collect()
    ]
    assert got == exp and got

    # partition pruning: the probe plan carries the cell membership as
    # a PartitionFilter (directory-level prune, no full scan)
    import contextlib
    import io
    import re

    from pyspark.sql import functions as F

    probe = spark.read.parquet(idx).filter(F.col("cell").isin([0, 1]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain(mode="formatted")
    plan = buf.getvalue()
    pf = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert pf and "cell" in pf.group(1), plan


def test_embedding_near_dup_indexed_equals_on_the_fly(spark, tmp_path_factory):
    """The persisted-layout near-dup join finds the same pairs as the
    on-the-fly bucketing pass, on data with planted near-duplicates."""
    import numpy as np

    from ocaml_lucene_spark.operators.ann import (
        build_ann_index,
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_indexed,
    )

    rng = np.random.default_rng(3)
    base = rng.normal(size=(40, 16)).astype(float)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 5 == 0:  # planted near-dup: tiny perturbation
            rows.append((1000 + i, [float(x) for x in v + rng.normal(scale=0.01, size=16)]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fly = {
        (r.vec_a, r.vec_b, r.sim)
        for r in embedding_near_dup_pairs(vecs, min_sim=0.98, n_bits=4).collect()
    }
    idx = str(tmp_path_factory.mktemp("ann_nd_idx"))
    build_ann_index(vecs, idx, n_bits=4)
    indexed = {
        (r.vec_a, r.vec_b, r.sim)
        for r in embedding_near_dup_pairs_indexed(spark, idx, min_sim=0.98).collect()
    }
    assert fly == indexed
    assert len(fly) >= 8  # the planted pairs are found


def test_ivf_full_probe_equals_brute_force(spark):
    """Probing every IVF cell degenerates to the exact scan: results
    must equal brute force; fewer probes are a recall/latency dial."""
    import pyarrow.parquet as pq

    from ocaml_lucene_spark.operators.ann import brute_force_topk, ivf_topk

    vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    rows = sorted(zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()))
    cents = [list(v) for _, v in rows[:4]]
    qv = list(rows[10][1])
    full = [(r.vec_id, r.sim) for r in ivf_topk(vecs, qv, cents, k=10, n_probe=4).collect()]
    exact = [(r.vec_id, r.sim) for r in brute_force_topk(vecs, qv, k=10).collect()]
    assert full == exact and full
    # partial probe returns a subset-ranked list of the same size cap
    part = [(r.vec_id, r.sim) for r in ivf_topk(vecs, qv, cents, k=10, n_probe=1).collect()]
    assert set(d for d, _ in part) <= set(r.vec_id for r in vecs.select("vec_id").collect())


def test_lsh_multiprobe_improves_recall(spark, vecs):
    """Multi-probe LSH recall is monotone in n_probe and strictly
    better than single-probe on average (probing the nearest
    hyperplanes' buckets recovers borderline neighbors)."""
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.01/embeddings.parquet").to_pylist()
    r1, r4 = [], []
    for row in t[:8]:
        q = row["embedding"]
        exact = {r.vec_id for r in ann.brute_force_topk(vecs, q, k=10).collect()}
        a1 = {r.vec_id for r in ann.lsh_topk(vecs, q, k=10, n_bits=6, n_probe=1).collect()}
        a4 = {r.vec_id for r in ann.lsh_topk(vecs, q, k=10, n_bits=6, n_probe=4).collect()}
        assert a1 <= a4 or len(a4) == 10  # probes only ADD candidates
        r1.append(len(exact & a1) / 10)
        r4.append(len(exact & a4) / 10)
    assert np.mean(r4) >= np.mean(r1), (r1, r4)
    assert np.mean(r4) > 0.2, r4


def test_knn_filtered_equals_brute_force_over_filtered_subset(spark):
    from ocaml_lucene_spark.operators.ann import brute_force_topk, knn_filtered_topk

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import pyarrow.parquet as pq

    qv = pq.read_table(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).column("embedding").to_pylist()[0]
    got = [(r.vec_id, r.sim) for r in knn_filtered_topk(vecs, qv, filter_label=3, k=5).collect()]
    want = [
        (r.vec_id, r.sim)
        for r in brute_force_topk(vecs.filter("label = 3"), qv, k=5).collect()
    ]
    # same ranking as exact search restricted to the filter (modulo the
    # +0.0 signed-zero normalization the filtered path adds)
    assert [(v, s + 0.0) for v, s in want] == got
    labels = {r.vec_id: r.label for r in vecs.select("vec_id", "label").collect()}
    assert all(labels[v] == 3 for v, _ in got)


def test_dup_spans_planted_boundaries(spark):
    """Hand-built corpus with known duplicated spans (n=3): the shared
    7-token run between docs 0 and 1 must come back as ONE merged
    island with exact 1-based inclusive boundaries; within-doc-only
    repetition must NOT fire (df counts distinct docs); docs shorter
    than n are excluded outright."""
    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
    d0 = f"one two three {shared} four five six"        # shared at pos 4..10
    d1 = f"{shared} seven eight nine"                   # shared at pos 1..7
    d2 = "rep rep rep rep rep unique words here only"   # within-doc rep only
    d3 = "too short"                                    # < n tokens
    docs = spark.createDataFrame(
        [(0, d0), (1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    got = [tuple(r) for r in dedup.dup_spans(docs, n=3).collect()]
    assert got == [(0, 4, 10, 7), (1, 1, 7, 7)], got


def test_dup_spans_matches_python_brute_force(spark, docs):
    """Non-SQL reference: recompute duplicated spans in pure Python
    (token n-grams, df over distinct docs, island merge) over a
    deterministic corpus slice and require exact equality."""
    import re

    n = 4
    sub = docs.filter(F.col("doc_id") % 7 == 0)
    texts = {r.doc_id: r.text for r in sub.collect()}
    toks = {
        d: [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
        for d, txt in texts.items()
    }
    posmap = {
        d: [(i + 1, " ".join(t[i : i + n])) for i in range(len(t) - n + 1)]
        for d, t in toks.items()
        if len(t) >= n
    }
    df_docs: dict[str, set] = {}
    for d, pgs in posmap.items():
        for _, g in pgs:
            df_docs.setdefault(g, set()).add(d)
    expected = []
    for d in sorted(posmap):
        dup_pos = [p for p, g in posmap[d] if len(df_docs[g]) >= 2]
        run: list[int] = []
        for p in dup_pos + [None]:
            if run and (p is None or p != run[-1] + 1):
                expected.append((d, run[0], run[-1] + n - 1, run[-1] + n - run[0]))
                run = []
            if p is not None:
                run.append(p)
    got = [tuple(r) for r in dedup.dup_spans(sub, n=n).collect()]
    assert got == expected
    assert len(got) > 0  # the planted dups make the slice non-degenerate


def test_semdedup_matches_python_reference(spark, vecs):
    import math

    import pyarrow.parquet as pq

    from ocaml_lucene_spark.operators.ann import kmeans_centroids_local, semdedup

    t = pq.read_table(
        "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = t.column("vec_id").to_pylist()
    embs = dict(zip(ids, (list(map(float, v)) for v in t.column("embedding").to_pylist())))
    cents = kmeans_centroids_local(list(embs.values()), list(embs), k=4, n_iters=3)

    # cosine with Spark's exact fold order: left-to-right double sums
    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    def cell_of(v):
        sims = [round(cos(v, c), 12) for c in cents]
        return max(range(len(cents)), key=lambda i: (sims[i], -i))

    cells = {d: cell_of(v) for d, v in embs.items()}
    dropped = set()
    order = sorted(embs)
    # 0.4 is the gate's corpus-calibrated threshold (top pairwise sim
    # in the synthetic embeddings is 0.51; 0.9 would drop nothing)
    for i, a in enumerate(order):
        for b in order[i + 1 :]:
            if cells[a] == cells[b] and round(cos(embs[a], embs[b]), 4) >= 0.4:
                dropped.add(b)
    want = [(d, cells[d], d not in dropped) for d in order]
    got = [tuple(r) for r in semdedup(vecs, cents, min_sim=0.4).collect()]
    assert got == want
    # non-vacuous: something was dropped, most were kept
    assert 0 < len(dropped) < len(order)


def test_semdedup_planted_duplicate(spark):
    from ocaml_lucene_spark.operators.ann import semdedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),   # exact dup of 1 -> dropped (higher id)
        (3, [0.0, 1.0, 0.0]),   # orthogonal -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    got = [tuple(r) for r in semdedup(df, cents, min_sim=0.95).collect()]
    assert got == [(1, 0, True), (2, 0, False), (3, 1, True)]


def test_simhash_kernel_matches_shuffle_impl(spark, docs):
    """r9 partition-local simhash kernel vs the r1-r8 shuffle plan:
    identical (doc_id, simhash) sets — including docs dropped for
    having no tokens, md5 byte-identity, and the exact tf-weighted
    bit-majority integers."""
    a = {(r.doc_id, r.simhash)
         for r in dedup.simhash_signatures(docs, impl="kernel").collect()}
    b = {(r.doc_id, r.simhash)
         for r in dedup.simhash_signatures(docs, impl="shuffle").collect()}
    assert a == b and len(a) > 0


def test_simhash_kernel_empty_and_single_token_docs(spark):
    """Edge semantics pinned: empty-token docs emit NO row (explode
    semantics); a single-token doc's signature is the token hash's
    bit pattern truncated to `bits`."""
    import hashlib

    rows = [(0, "zipf"), (1, "   ...!!!   "), (2, ""), (3, "zipf zipf alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.simhash
           for r in dedup.simhash_signatures(df, impl="kernel").collect()}
    ref = {r.doc_id: r.simhash
           for r in dedup.simhash_signatures(df, impl="shuffle").collect()}
    assert got == ref
    assert set(got) == {0, 3}  # 1, 2 tokenize to nothing
    h = int(hashlib.md5(b"zipf").hexdigest()[:15], 16)
    assert got[0] == h  # single token: majority = the token's bits
