"""Readers accept exactly one on-disk layout: an index missing per-block id
bounds (``block_lasts``), the ``global`` summary row or the persisted
stage-2 ``n_buckets`` is refused with one clear error by the engine and by
the incremental updater — before the updater writes anything."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from admarus_spark.corpus import make_docs_corpus
from admarus_spark.index.build import LAYOUT_ERROR, IndexBuilder
from admarus_spark.search.engine import SearchEngine
from admarus_spark.streaming.incremental import IncrementalIndexer


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = make_docs_corpus(60, seed=33)
    d = str(tmp_path_factory.mktemp("idx_layout"))
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(docs), input_token="layout"
    )
    return d, docs


def _rewrite(spark, path, transform, partition_by=None):
    nxt = path + "_rewritten"
    w = transform(spark.read.parquet(path)).coalesce(1).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(nxt)
    shutil.rmtree(path)
    shutil.move(nxt, path)


def _drop_block_lasts(spark, d):
    _rewrite(spark, f"{d}/postings", lambda df: df.drop("block_lasts"), "tb")


def _drop_global_row(spark, d):
    _rewrite(spark, f"{d}/summaries", lambda df: df.filter(F.col("kind") != "global"))


def _drop_n_buckets(spark, d):
    p = f"{d}/_checkpoints/stage2_postings/metrics.json"
    with open(p) as f:
        m = json.load(f)
    del m["n_buckets"]
    with open(p, "w") as f:
        json.dump(m, f)


@pytest.mark.parametrize("strip", [_drop_block_lasts, _drop_global_row, _drop_n_buckets])
def test_older_layout_is_refused(spark, built, tmp_path, strip):
    src, docs = built
    d = str(tmp_path / "idx")
    shutil.copytree(src, d)
    SearchEngine(spark, d)  # the intact copy opens
    strip(spark, d)
    with pytest.raises(ValueError, match=LAYOUT_ERROR):
        SearchEngine(spark, d)
    before = sorted(os.listdir(d))
    delta = (
        docs.head(3)
        .drop(columns=["content_sha256"], errors="ignore")
        .assign(content=lambda x: x["content"] + " freshterm")
    )
    with pytest.raises(ValueError, match=LAYOUT_ERROR):
        IncrementalIndexer(spark, d).update(spark.createDataFrame(delta))
    assert sorted(os.listdir(d)) == before  # refused before any write
