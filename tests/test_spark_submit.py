"""North-rule run mode, end to end: the engine must run via
``spark-submit --py-files <zip>`` with NO repo on the python path —
driver and executors import the package from the packaged zip alone.

The job builds a real index from a generated webtext corpus and runs
BM25 top-k queries through the indexed plan and the WAND plan, whose
range tasks read their postings blocks with pyarrow on the executors,
with one range and with two; the test asserts the output matches the
same computation done in-process, proving the zip is complete (no
module silently leaking in from the working tree)."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = '''
import json, sys
from pyspark.sql import SparkSession

from ocaml_lucene_spark.index.build import assign_doc_ids, build_index
from ocaml_lucene_spark.query.exec import (
    bm25_topk_indexed, bm25_topk_wand_exec, bm25_topk_wand_parallel,
)

corpus, index_dir, out_path = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (
    SparkSession.builder.appName("submit-smoke")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
docs = assign_doc_ids(
    spark.read.parquet(corpus).select("url", "text")
).select("doc_id", "text")
build_index(docs, index_dir, segment="sub", n_partitions=4)
plans = {
    "indexed": bm25_topk_indexed(spark, index_dir, ["the", "and"], "or", 10, round_to=4),
    "wand": bm25_topk_wand_exec(spark, index_dir, ["the", "and"], "or", 10, round_to=4),
    "parallel": bm25_topk_wand_parallel(
        spark, index_dir, ["the", "and"], "or", 10, round_to=4, n_tasks=2
    ),
}
with open(out_path, "w") as f:
    json.dump(
        {name: [[r.doc_id, r.score] for r in df.collect()] for name, df in plans.items()},
        f,
    )
spark.stop()
'''


def test_spark_submit_py_files_runs_build_and_query(spark, tmp_path_factory):
    import pytest

    spark_submit = os.path.join(
        os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
    )
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on this host")

    base = tmp_path_factory.mktemp("submit")
    # corpus generated with the repo package (test process only — the
    # submitted job sees just the zip)
    from ocaml_lucene_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(n_docs=400, out_dir=str(base / "c"), seed=3)

    zip_path = str(base / "pkg.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "package_pyfiles.py"), zip_path],
        check=True, capture_output=True,
    )

    job = base / "job.py"
    job.write_text(JOB)
    out_path = str(base / "result.json")
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)  # the zip must be self-sufficient
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            spark_submit, "--master", "local[4]", "--py-files", zip_path,
            str(job), corpus, str(base / "idx"), out_path,
        ],
        cwd=str(base),  # not the repo: imports must come from the zip
        env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    with open(out_path) as f:
        got = {
            name: [(int(d), float(s)) for d, s in rows]
            for name, rows in json.load(f).items()
        }
    assert [len(rows) for rows in got.values()] == [10, 10, 10]

    # in-process oracle: same corpus, same query, repo code
    from ocaml_lucene_spark.index.build import assign_doc_ids, build_index
    from ocaml_lucene_spark.query.exec import (
        bm25_topk_indexed,
        bm25_topk_wand_exec,
        bm25_topk_wand_parallel,
    )

    docs = assign_doc_ids(
        spark.read.parquet(corpus).select("url", "text")
    ).select("doc_id", "text")
    idx2 = str(base / "idx_oracle")
    build_index(docs, idx2, segment="sub", n_partitions=4)
    args = (spark, idx2, ["the", "and"], "or", 10)
    expect = {
        name: [(r.doc_id, r.score) for r in df.collect()]
        for name, df in {
            "indexed": bm25_topk_indexed(*args, round_to=4),
            "wand": bm25_topk_wand_exec(*args, round_to=4),
            "parallel": bm25_topk_wand_parallel(*args, round_to=4, n_tasks=2),
        }.items()
    }
    assert got == expect
