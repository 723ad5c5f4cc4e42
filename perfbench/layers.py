"""Per-layer metrics of a traced run, assembled from the run's spans and
Spark's event log. Every workload prints every metric; a layer the
workload does not exercise reads 0. README.md maps each metric to the
end-to-end metric it should move."""

from __future__ import annotations

from probes import STAGE_FIELDS, median

PIPELINE_OPS = (
    "bm25_or_top10", "bm25_and_top10", "term_stats", "phrase_counts", "dedup_exact",
    "minhash_candidate_pairs", "simhash_signatures", "language_id", "quality_features",
    "ann_brute_force", "ann_lsh",
)
OP_KINDS = ("build", "add", "delete", "merge", "query", "pipeline")
SPARK_KINDS = ("build", "add", "merge", "query", "pipeline")

PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "warmup_s": "s",
    "build.docs_per_s": "docs/s",
    "build.assign_doc_ids_s": "s",
    "build.tokenize_stats_s": "s",
    "build.term_dictionary_s": "s",
    "build.shuffle_pack_s": "s",
    "build.terms_stats_s": "s",
    "pack.kernel_s": "s",
    "index.bytes_packed_per_posting": "bytes",
    "index.disk_bytes_per_posting": "bytes",
    "term_index.route_ms": "ms",
    "term_index.cold_load_ms": "ms",
    "exec.plan_ms": "ms",
    "exec.collect_ms": "ms",
    "exec.spark_jobs_per_query": "count",
    "exec.wand_ms": "ms",
    "exec.parallel_ms": "ms",
    "exec.indexed_ms": "ms",
    "wand.decoded_blocks": "count",
    "wand.total_blocks": "count",
    "ingest.docs_per_s": "docs/s",
    "ingest.query_p50_ms": "ms",
    "add.docs_per_s": "docs/s",
    "deletes.ms": "ms",
    "merge.count": "count",
    "merge.s": "s",
    "merge.bytes_rewritten_per_byte_added": "ratio",
    **{f"pipeline.{op}.ms": "ms" for op in PIPELINE_OPS},
    **{f"{k}.jvm_gc_ms": "ms" for k in OP_KINDS},
    **{f"{k}.cpu_s": "s" for k in OP_KINDS},
    "check.s": "s",
    "ops.persisted_rdds_after": "count",
    "ops.peak_rss_mb": "MB",
    **{
        f"spark.{k}.{f}": ("s" if f == "run_s" else "ms" if f == "gc_ms" else "bytes")
        for k in SPARK_KINDS
        for f in STAGE_FIELDS
    },
    "traced.setup_s": "s",
    "traced.docs_per_s": "docs/s",
    "traced.queries_per_s": "1/s",
    "traced.query_p50_ms": "ms",
}


def layer_metrics(run, spark_totals: dict) -> dict[str, tuple[float, str]]:
    probe = run.probe
    spans = probe.spans
    in_setup = set()
    for sp in spans:
        parent = sp["parent"]
        if sp["name"].startswith("setup.") or (parent is not None and parent in in_setup):
            in_setup.add(sp["id"])

    def timed(name):
        return [s for s in probe.by_name(name) if s["id"] not in in_setup]

    def p50_ms(items):
        return median([s["s"] for s in items]) * 1000

    queries = probe.by_kind("query")
    v = dict.fromkeys(PER_LAYER, 0.0)
    v.update(run.layer)
    v["term_index.route_ms"] = p50_ms(timed("term_index.route"))
    v["term_index.cold_load_ms"] = p50_ms(timed("term_index.cold_load"))
    v["exec.plan_ms"] = p50_ms(timed("exec.plan"))
    v["exec.collect_ms"] = p50_ms(timed("exec.collect"))
    if queries:
        v["exec.spark_jobs_per_query"] = sum(s["spark_jobs"] for s in queries) / len(queries)
    for plan in ("wand", "parallel", "indexed"):
        v[f"exec.{plan}_ms"] = p50_ms([s for s in queries if s["plan"] == plan])
    v["wand.decoded_blocks"] = sum(s.get("decoded_blocks", 0) for s in queries)
    v["wand.total_blocks"] = sum(s.get("total_blocks", 0) for s in queries)
    for k in OP_KINDS:
        ops = probe.by_kind(k)
        v[f"{k}.jvm_gc_ms"] = sum(s["jvm_gc_ms"] for s in ops)
        v[f"{k}.cpu_s"] = sum(s["cpu_s"] for s in ops)
    v["check.s"] = sum(s["s"] for s in spans if s["name"].startswith("check."))
    v["ops.persisted_rdds_after"] = probe.max_persisted
    v["ops.peak_rss_mb"] = probe.peak_rss_mb
    for k in SPARK_KINDS:
        for f, x in spark_totals.get(k, {}).items():
            v[f"spark.{k}.{f}"] = x
    for k, x in run.e2e.items():
        v[f"traced.{k}"] = x
    return {k: (float(x), PER_LAYER[k]) for k, x in v.items()}
