import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# tiny test corpora: use exact (full-scan) hot-term detection so the
# salting assertions are deterministic
os.environ.setdefault("OLSPARK_SALT_SAMPLE_FRAC", "1.0")


@pytest.fixture(scope="session")
def spark():
    from ocaml_lucene_spark.session import get_spark

    s = get_spark("ocaml_lucene_spark-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf001_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir():
    return "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def tiny_corpus(tmp_path_factory):
    """Deterministic 800-doc webtext corpus (shared across tests)."""
    from ocaml_lucene_spark.sources.corpus import generate_corpus

    out = tmp_path_factory.mktemp("corpus")
    path = generate_corpus(str(out), n_docs=800, seed=42)
    return path


@pytest.fixture(scope="session")
def check_terms(spark):
    """check(index_dir): every live segment's terms table has one row
    per term, equal to (term, sum(n), sum(sum_tf)) over the segment's
    own postings blocks. The writer takes these stats from the pack
    kernels, so a hot term's salt shards, resumed partitions and
    mixed-salt merges must all still sum to the postings."""
    from pyspark.sql import functions as F

    from ocaml_lucene_spark.index import segments as seg

    def check(index_dir):
        segments = [r["segment"] for r in seg.list_segments(index_dir)]
        for s in segments:
            paths = seg.segment_paths(index_dir, s)
            terms = [
                (r.term, r.df, r.ttf)
                for r in spark.read.parquet(paths["terms"]).collect()
            ]
            assert len(terms) == len({t for t, _, _ in terms}), s
            want = (
                spark.read.parquet(paths["postings"])
                .groupBy("term")
                .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("ttf"))
                .collect()
            )
            assert sorted(terms) == sorted((r.term, r.df, r.ttf) for r in want), s
        return segments

    return check
