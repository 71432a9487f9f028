"""Engine init must be O(1) in bucket count: only the meta + global rollup
summary rows are read at init; per-bucket blooms load lazily for queried
buckets (VERDICT r2 #4)."""

from admarus_spark.index.build import IndexBuilder
from admarus_spark.search.engine import SearchEngine


def _build(spark, movies_pdf, d):
    IndexBuilder(spark, d, n_buckets=8).build(
        spark.createDataFrame(movies_pdf), input_token="lazy-blooms"
    )


def test_lazy_bloom_loading(spark, movies_pdf, tmp_path):
    d = str(tmp_path / "idx_lazy")
    _build(spark, movies_pdf, d)
    eng = SearchEngine(spark, d)
    assert eng.bucket_blooms == {}  # init materialized NO per-bucket blooms
    assert eng.search("hunger", 5).count() > 0
    loaded = len(eng.bucket_blooms) + len(eng._absent_buckets)
    assert 0 < loaded <= 8  # only the queried buckets
    # a term absent from the corpus short-circuits on the global bloom
    # without loading anything further
    assert eng.search("zzznotaword", 5).count() == 0
    assert len(eng.bucket_blooms) + len(eng._absent_buckets) == loaded

