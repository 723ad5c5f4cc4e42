"""The workloads. Each drives the engine's public functions from
outside in one closed loop (one client, next call after the previous
returns), checks every output against a computation made apart from
the engine, and fills ``run.e2e`` / ``run.layer``.

Sizes keep one run, cold JVM included, near a minute on a 4-core host:
session start and JIT warm-up cost ~30 s of every run whatever the
size, and a comparison of two commits takes dozens of runs.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from layers import PIPELINE_OPS
from probes import median, release_caches
from reference import Bm25Reference, check_topk

SEARCH_DOCS = 2_000
# generate_corpus's default mean of 200 tokens a doc doubles the
# corpus-generation time for no change in the plans exercised
MEAN_LEN = 100
# at least two rounds of the query mix, so that a slower (e.g. traced)
# run runs the same queries as an untraced one
MIN_ROUNDS = 2
INGEST_BATCH_DOCS = 300
# default maybe_merge(merge_factor=4): a base segment and three batches
# of the same size form one tier, so the third round's maybe_merge
# merges all four and purges the deletes in them.
INGEST_ROUNDS = 3
INGEST_DELETES_PER_ROUND = 15
INGEST_QUERIES_PER_ROUND = 1
PIPE_DOCS = 2_500
PIPE_VECS = 1_000
PIPE_WARM_DOCS = 60

_PROFILE_LINE = re.compile(r"\[build-profile\] (.+?): \+([0-9.]+)s")
_PROFILE_PHASES = {
    "norms+stats+bounds (one tokenize pass)": "build.tokenize_stats_s",
    "term_dictionary": "build.term_dictionary_s",
    "shuffle+pack": "build.shuffle_pack_s",
    "terms_stats": "build.terms_stats_s",
}


# ---------------------------------------------------------------- queries


# Query shapes: (term pools, mode, k, with an excluded term). Every run
# cycles through the same shapes and only the words come from the seed,
# so that runs differ in inputs, not in how much work their queries are.
SHAPES = (
    (("hot", "mid"), "or", 10, False),
    (("mid", "mid", "rare"), "or", 100, True),
    (("hot", "mid"), "and", 10, False),
    (("rare",), "or", 1, False),
    (("hot", "mid", "mid", "rare", "absent"), "or", 10, False),
    (("mid", "hot", "hot"), "and", 100, True),
    (("mid", "absent"), "and", 10, False),
    (("hot", "rare", "mid", "mid"), "or", 1, False),
)


def query_mix(seed: int, n: int) -> list[dict]:
    """Seeded query mix over the corpus vocabulary of ``seed``, in rounds
    of five: four queries for ``bm25_topk_auto`` cycling through SHAPES
    (OR/AND, 1-5 hot/mid/rare/absent terms, k in {1, 10, 100}, some
    with an excluded term), then one OR of three hot terms, alternately
    for the public indexed and doc-range-parallel plans: the router
    picks those only above DEFAULT_WAND_MAX_DF_SUM (2M postings), far
    beyond a corpus one run can build."""
    from ocaml_lucene_spark.sources.corpus import make_vocab

    rng = np.random.default_rng([seed, 7])
    vocab = make_vocab(seed=seed)
    pools = {
        "hot": vocab[:50],
        "mid": vocab[200:1000],
        "rare": vocab[5000:],
        "absent": [w + "xq" for w in vocab[:100]],
    }

    def draw(pool):
        return str(pools[pool][rng.integers(len(pools[pool]))])

    out = []
    n_auto = 0
    for i in range(n):
        if i % 5 == 4:
            terms = [str(t) for t in rng.choice(pools["hot"], 3, replace=False)]
            plan = "indexed" if (i // 5) % 2 == 0 else "parallel"
            out.append({"terms": terms, "mode": "or", "k": 10, "exclude": [], "plan": plan})
            continue
        shape, mode, k, excl = SHAPES[n_auto % len(SHAPES)]
        n_auto += 1
        terms = [draw(p) for p in shape]
        exclude = []
        while excl and not exclude:
            t = draw("mid")
            exclude = [t] if t not in terms else []
        out.append({"terms": terms, "mode": mode, "k": k, "exclude": exclude, "plan": "auto"})
    return out


def run_query(run, index_dir: str, q: dict) -> list[tuple[int, float]]:
    """One query as one timed operation. Traced, the router is timed
    alone first, and a query it sends to the single-task WAND plan goes
    to bm25_topk_wand_exec directly (what bm25_topk_auto calls) with
    the pruning counters turned on."""
    from ocaml_lucene_spark.query import exec as qx

    spark, probe = run.spark, run.probe
    args = (spark, index_dir, q["terms"], q["mode"], q["k"])
    plan, metrics = q["plan"], None
    if run.trace and plan == "auto":
        with probe.span("term_index.route"):
            plan = qx.bm25_route(index_dir, q["terms"], q["exclude"])["plan"]
        if plan == "wand":
            metrics = {}
    decision: dict = {}
    with probe.op("query", "query") as sp:
        with probe.span("exec.plan"):
            if metrics is not None:
                df = qx.bm25_topk_wand_exec(*args, exclude=q["exclude"], metrics=metrics)
            elif q["plan"] == "auto":
                df = qx.bm25_topk_auto(*args, exclude=q["exclude"], decision=decision)
            elif q["plan"] == "indexed":
                df = qx.bm25_topk_indexed(*args, exclude=q["exclude"])
            else:
                df = qx.bm25_topk_wand_parallel(*args, exclude=q["exclude"])
        with probe.span("exec.collect"):
            rows = [(int(r.doc_id), float(r.score)) for r in df.collect()]
    sp["plan"] = decision.get("plan", plan)
    if metrics is not None:
        qx.wand_metrics_value(metrics)
        sp["decoded_blocks"] = metrics["decoded_blocks"]
        sp["total_blocks"] = metrics["total_blocks"]
    return rows


def check_query(run, ref: Bm25Reference, q: dict, rows) -> None:
    with run.probe.span("check.reference"):
        ids, scores = ref.scores(q["terms"], q["mode"], q["exclude"])
        why = check_topk(rows, ids, scores, q["k"])
    run.check(why, f"query {q}")


def query_metrics(run, kind: str = "query") -> None:
    """queries_per_s and query_p50_ms over the timed operations of ``kind``."""
    lat = [s["s"] for s in run.probe.by_kind(kind)]
    run.e2e["queries_per_s"] = len(lat) / sum(lat)
    run.e2e["query_p50_ms"] = median(lat) * 1000


# ------------------------------------------------------------------ index


def build(run, parquet_dir: str, index_dir: str):
    """assign_doc_ids + build_index as one timed operation; returns the
    id-assigned frame the build consumed."""
    from ocaml_lucene_spark.index.build import assign_doc_ids, build_index

    src = run.spark.read.parquet(parquet_dir).select("url", "text")
    err = io.StringIO()
    with run.probe.op("build", "build") as sp:
        with run.probe.span("build.assign_doc_ids"):
            docs = assign_doc_ids(src)
        with contextlib.redirect_stderr(err):
            manifest = build_index(docs, index_dir)
    for label, secs in _PROFILE_LINE.findall(err.getvalue()):
        if label in _PROFILE_PHASES:
            sp[_PROFILE_PHASES[label]] = float(secs)
    sp["n_docs"] = manifest["n_docs"]
    return docs


def id_map(run, docs, base: int = 0) -> dict[int, str]:
    """doc_id -> text of an id-assigned frame (untimed), checked to be a
    dense id range."""
    with run.probe.span("check.id_map"):
        rows = docs.select("doc_id", "text").collect()
        release_caches(run.spark)
    out = {int(r.doc_id) + base: r.text for r in rows}
    run.check(
        None if sorted(out) == list(range(base, base + len(rows))) else "ids not dense",
        "assign_doc_ids",
    )
    return out


def index_layer_metrics(run, index_dir: str) -> None:
    """Size per posting of the live segments."""
    from ocaml_lucene_spark.index import segments as seg

    live = seg.list_segments(index_dir)
    postings = sum(r["n_postings"] for r in live)
    disk = 0
    for r in live:
        p = seg.segment_paths(index_dir, r["segment"])
        for part in ("postings", "terms", "norms"):
            disk += sum(os.path.getsize(f) for f in glob.glob(f"{p[part]}/*.parquet"))
    run.layer["index.disk_bytes_per_posting"] = disk / postings
    run.layer["index.bytes_packed_per_posting"] = sum(r["bytes_packed"] for r in live) / postings


def pack_kernel_s(index_dir: str, segment: str) -> float:
    """Summed run time of the pack kernel over a segment's partitions,
    from the checkpoint rows it writes."""
    from ocaml_lucene_spark.index import segments as seg

    total = 0.0
    for f in glob.glob(os.path.join(seg.segment_paths(index_dir, segment)["checkpoints"], "*.json")):
        with open(f) as fh:
            total += json.load(fh)["elapsed_sec"]
    return total


def build_layer_metrics(run, sp: dict, index_dir: str) -> None:
    from ocaml_lucene_spark.index import segments as seg

    run.layer["build.docs_per_s"] = sp["n_docs"] / sp["s"]
    run.layer["build.assign_doc_ids_s"] = run.probe.by_name("build.assign_doc_ids")[-1]["s"]
    for key in _PROFILE_PHASES.values():
        run.layer[key] = sp.get(key, 0.0)
    seg_name = seg.list_segments(index_dir)[0]["segment"]
    run.layer["pack.kernel_s"] = pack_kernel_s(index_dir, seg_name)


# ----------------------------------------------------------------- search


def search(run) -> None:
    """Read path over a freshly built index, then writes beside reads.

    Set-up builds a small ``base`` index (untimed; it is also the JIT
    warm-up of the build path). Phase 1 times a fresh build of the
    corpus, a warm-up pass of queries, then the query mix for
    ``run.seconds`` in whole rounds of five. Phase 2 grows ``base`` by
    INGEST_ROUNDS rounds of add_documents, delete_docs, maybe_merge and
    a query."""
    from ocaml_lucene_spark.sources.corpus import generate_corpus

    probe = run.probe
    n_ingest = (1 + INGEST_ROUNDS) * INGEST_BATCH_DOCS
    with probe.span("setup.corpus"):
        corpus = generate_corpus(run.path("corpus"), SEARCH_DOCS, seed=run.seed, mean_len=MEAN_LEN)
        parts = split_parquet(
            generate_corpus(run.path("ingest"), n_ingest, seed=run.seed + 1, mean_len=MEAN_LEN),
            INGEST_BATCH_DOCS, run.path("part"),
        )
    base_dir = run.path("base")
    with probe.span("setup.warmup"):
        base_frame = build(run, parts[0], base_dir)
    probe.by_kind("build")[-1]["kind"] = "setup_build"
    base_docs = id_map(run, base_frame)

    index_dir = run.path("index")
    docs = id_map(run, build(run, corpus, index_dir))
    build_sp = probe.by_kind("build")[-1]
    build_layer_metrics(run, build_sp, index_dir)
    index_layer_metrics(run, index_dir)
    with probe.span("check.reference"):
        ref = Bm25Reference()
        ref.add(docs)

    # warm-up: one query of each plan, from a mix of its own
    warm = query_mix(run.seed + 1, 10)
    with probe.span("setup.warmup"):
        for q in (warm[0], warm[4], warm[9]):
            run_query(run, index_dir, q)
    for sp in probe.by_kind("query"):
        sp["kind"] = "warmup_query"
    mix = query_mix(run.seed, 100)
    done = []
    t0 = time.monotonic()
    for q in mix:
        done.append((q, run_query(run, index_dir, q)))
        if len(done) % 5 == 0 and len(done) >= 5 * MIN_ROUNDS and time.monotonic() - t0 >= run.seconds:
            break
    for q, rows in done:
        check_query(run, ref, q, rows)
    n_read = len(done)

    auto = [q for q in mix[n_read:] if q["plan"] == "auto"]
    ingest(run, base_dir, base_docs, parts[1:], auto)
    writes = [build_sp] + probe.by_kind("add") + probe.by_kind("delete") + probe.by_kind("merge")
    n_written = build_sp["n_docs"] + INGEST_ROUNDS * INGEST_BATCH_DOCS
    run.e2e["docs_per_s"] = n_written / sum(s["s"] for s in writes)
    query_metrics(run)


def split_parquet(path: str, rows: int, prefix: str) -> list[str]:
    """Cut a parquet dataset into directories of ``rows`` rows each."""
    table = pq.read_table(path)
    out = []
    for i, lo in enumerate(range(0, table.num_rows, rows)):
        d = f"{prefix}{i}"
        os.makedirs(d)
        pq.write_table(table.slice(lo, rows), os.path.join(d, "part.parquet"))
        out.append(d)
    return out


def ingest(run, index_dir: str, base_docs: dict[int, str], batches: list[str], mix) -> None:
    """Rounds of add_documents, delete_docs and maybe_merge on
    ``index_dir``, each followed by a query checked against the
    reference under the deletes rule. The last round's maybe_merge
    merges the base segment and the added ones (one tier of four)."""
    from ocaml_lucene_spark.index import segments as seg
    from ocaml_lucene_spark.index.build import add_documents, assign_doc_ids
    from ocaml_lucene_spark.index.deletes import delete_docs, deleted_ids
    from ocaml_lucene_spark.index.merge import maybe_merge
    from ocaml_lucene_spark.query.term_index import load_term_index

    spark, probe = run.spark, run.probe
    with probe.span("check.reference"):
        ref = Bm25Reference()
        ref.add(base_docs)
    live = set(base_docs)
    rng = np.random.default_rng([run.seed, 11])
    loaded: set[str] = set()
    added_bytes = merged_bytes = 0
    queries = iter(mix)
    for r, part in enumerate(batches, 1):
        batch = spark.read.parquet(part).select("url", "text")
        with probe.op("add", "add_documents"), contextlib.redirect_stderr(io.StringIO()):
            m = add_documents(batch, index_dir)
        added_bytes += m["bytes_packed"]
        docs = id_map(run, assign_doc_ids(batch), seg.read_stats(index_dir, m["segment"])["doc_id_base"])
        clash = set(docs) & set(ref.dl)
        run.check(f"{len(clash)} new ids already in the index" if clash else None, "add_documents")
        docs = {d: t for d, t in docs.items() if d not in clash}
        with probe.span("check.reference"):
            ref.add(docs)
        live |= set(docs)
        victims = sorted(int(v) for v in rng.choice(sorted(live), INGEST_DELETES_PER_ROUND, replace=False))
        with probe.op("delete", "delete_docs"):
            delete_docs(index_dir, victims)
        ref.delete(victims)
        live -= set(victims)
        before = set(deleted_ids(index_dir).tolist())
        with probe.op("merge", "maybe_merge") as sp:
            merges = maybe_merge(spark, index_dir)
        sp["merges"] = len(merges)
        merged_bytes += sum(mm["bytes_packed"] for mm in merges)
        if merges:
            ref.purge(before - set(deleted_ids(index_dir).tolist()))
        for _ in range(INGEST_QUERIES_PER_ROUND):
            q = next(queries)
            if run.trace:
                for row in seg.list_segments(index_dir):
                    if row["segment"] not in loaded:
                        with probe.span("term_index.cold_load"):
                            load_term_index(index_dir, row["segment"])
                        loaded.add(row["segment"])
            check_query(run, ref, q, run_query(run, index_dir, q))
            probe.by_kind("query")[-1]["phase"] = "ingest"

    adds = probe.by_kind("add")
    writes = adds + probe.by_kind("delete") + probe.by_kind("merge")
    n_added = len(batches) * INGEST_BATCH_DOCS
    run.layer["ingest.docs_per_s"] = n_added / sum(s["s"] for s in writes)
    run.layer["ingest.query_p50_ms"] = median(
        [s["s"] for s in probe.by_kind("query") if s.get("phase") == "ingest"]
    ) * 1000
    run.layer["add.docs_per_s"] = n_added / sum(s["s"] for s in adds)
    run.layer["deletes.ms"] = median([s["s"] for s in probe.by_kind("delete")]) * 1000
    merge_sp = probe.by_kind("merge")
    run.layer["merge.count"] = sum(s["merges"] for s in merge_sp)
    run.layer["merge.s"] = sum(s["s"] for s in merge_sp)
    run.layer["merge.bytes_rewritten_per_byte_added"] = merged_bytes / added_bytes


# --------------------------------------------------------------- pipeline

_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


def make_pipeline_tables(out_dir: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """Seeded ``documents`` and ``embeddings`` tables shaped like the
    engine's sf test tables: 30 uniform words, 10-100 tokens a doc, a
    twentieth of the docs tagged ``dup`` and a third of those exact or
    near copies of an earlier one; unit 64-d embeddings, 10 labels."""
    rng = np.random.default_rng([seed, 3])
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]) for _ in range(n_docs)]
    dups: list[int] = []
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        kind = rng.integers(3) if dups else 2
        if kind == 0:
            texts[i] = texts[dups[rng.integers(len(dups))]]
        else:
            toks = texts[dups[rng.integers(len(dups))]].split() if kind == 1 else texts[i].split()[:-1]
            if kind == 1:
                for j in rng.integers(0, len(toks), 2):
                    toks[j] = str(words[rng.integers(len(words))])
            texts[i] = " ".join(toks) + " dup"
        dups.append(int(i))
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))


def oracle_sqls(data_dir: str) -> dict[str, str]:
    """The gate's oracle SQL for each pipeline operator, built with the
    same builders and arguments as ``__spark_entry__.oracle_sql()``;
    the ANN texts take this table's query vector (vec_id 0), since
    oracle_sql() bakes in the sf0.01 one."""
    from ocaml_lucene_spark.query import oracle_sql as osql
    from ocaml_lucene_spark.query import oracle_sql_ops as oops

    qv = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).column("embedding")[0].as_py()
    return {
        "bm25_or_top10": osql.bm25_topk_sql(["spark", "query", "dup"], "or", 10),
        "bm25_and_top10": osql.bm25_topk_sql(["join", "hash", "scan"], "and", 10),
        "term_stats": osql.term_stats_sql(),
        "phrase_counts": osql.phrase_counts_sql("table", "hash"),
        "dedup_exact": oops.exact_dup_groups_sql(),
        "minhash_candidate_pairs": oops.minhash_candidate_pairs_sql(min_est_jaccard=0.5),
        "simhash_signatures": oops.simhash_signatures_sql(),
        "language_id": oops.language_id_sql(),
        "quality_features": oops.quality_features_sql(),
        "ann_brute_force": oops.brute_force_topk_sql(qv, k=10, exclude_self=0),
        "ann_lsh": oops.lsh_topk_sql(qv, k=10, n_bits=8),
    }


def _normalized(cols, rows) -> list:
    """Columns by name, floats rounded to 4 places, rows sorted: the
    gate's value comparison without its row order (the operators run
    with ordered=False)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(repr(round(r[i], 4) if isinstance(r[i], float) else r[i]) for i in order) for r in rows]
    return [sorted(cols)] + sorted(out)


def _oracle_results(data_dir: str) -> dict[str, list]:
    """Each operator's oracle SQL run in DuckDB over the same parquet
    files, normalized like the engine's rows. The BM25 texts run on one
    thread: their avgdl is a float avg(), which a parallel plan sums in
    a varying order."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name, sql in oracle_sqls(data_dir).items():
            con.execute(f"SET threads TO {1 if name.startswith('bm25') else 4}")
            res = con.execute(sql)
            out[name] = _normalized([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def pipeline(run) -> None:
    import __spark_entry__ as entry

    spark, probe = run.spark, run.probe
    ops = entry.queries(ordered=False)
    data, warm = run.path("sf"), run.path("sf_warm")
    with probe.span("setup.corpus"):
        make_pipeline_tables(data, PIPE_DOCS, PIPE_VECS, run.seed)
        make_pipeline_tables(warm, PIPE_WARM_DOCS, PIPE_WARM_DOCS, run.seed + 1)
    # warm-up: one operator on a tiny table pays the session's first
    # Python-worker and codegen costs; each operator's own first-call
    # cost stays in its timed call
    with probe.span("setup.warmup"):
        ops[PIPELINE_OPS[0]](spark, warm).collect()
        release_caches(spark)

    results: list[tuple[str, list, list]] = []
    passes = []
    t0 = time.monotonic()
    while not passes or time.monotonic() - t0 < run.seconds:
        with probe.span("pipeline.pass") as ps:
            for name in PIPELINE_OPS:
                with probe.op("pipeline", name):
                    df = ops[name](spark, data)
                    rows = [tuple(r) for r in df.collect()]
                results.append((name, df.columns, rows))
        passes.append(ps["s"])

    with probe.span("check.oracle"):
        expect = _oracle_results(data)
    for name, cols, rows in results:
        got = _normalized(cols, rows)
        run.check(None if got == expect[name] else "differs from its oracle SQL", name)

    run.e2e["docs_per_s"] = PIPE_DOCS / median(passes)
    query_metrics(run, "pipeline")
    for name in PIPELINE_OPS:
        run.layer[f"pipeline.{name}.ms"] = median([s["s"] for s in probe.by_name(name)]) * 1000


WORKLOADS = {"search": search, "pipeline": pipeline}
