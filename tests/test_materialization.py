"""One-shot materializations leave nothing pinned and survive executor
loss: the chunk-store and z-order bucket rewrites rely on the
dynamic-overwrite commit, and the parameter-bounded sides (HLL register
table, pca-rerank candidates, the recall query's per-query frame) are
collected once through ``skew.collect_bounded`` into driver rows. Each
bounded side is checked against its lazy path, forced with a row bound
of 0, for identical rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import _pinned_ids


def _store_docs(spark, ids):
    from lovdata_pipeline_spark.chunking import chunk_documents_df
    from lovdata_pipeline_spark.config import ChunkParams
    from lovdata_pipeline_spark.embedding import embed_chunks_df
    from lovdata_pipeline_spark.schemas import DOCUMENTS_SCHEMA
    from tests import fixtures

    docs = spark.createDataFrame(
        [(f"d{i}", "ds", "p", fixtures.simple_law(), f"h{i}", "added") for i in ids],
        DOCUMENTS_SCHEMA,
    )
    return embed_chunks_df(chunk_documents_df(docs, ChunkParams(100, 500, 300, 0.15)), dims=8)


def test_upsert_chunks_rewrites_buckets_and_leaves_no_pin(spark, tmp_path):
    from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

    store = ChunkStore(spark, str(tmp_path / "store"), n_buckets=4)
    store.upsert_chunks(_store_docs(spark, range(8)))
    per_doc = store.read().filter(F.col("document_id") == "d0").count()
    again = _store_docs(spark, [0, 1, 9])
    before = _pinned_ids(spark)
    store.upsert_chunks(again, delete=["d2", "d3"])
    assert not (_pinned_ids(spark) - before)
    ids = sorted(r[0] for r in store.distinct_document_ids().collect())
    assert ids == ["d0", "d1", "d4", "d5", "d6", "d7", "d9"]
    # the rewrite read the files it replaced: nothing lost or doubled
    assert store.count() == 7 * per_doc


def test_interrupted_bucket_pin_leaves_no_sidecar(spark, tmp_path, monkeypatch):
    """A crash between the temp write and the rename of
    ``_store_meta.json`` leaves no sidecar (never a truncated one), so a
    reopen with the explicit bucket count pins it afresh."""
    from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

    root = str(tmp_path / "store")
    chunks = _store_docs(spark, range(8))
    store = ChunkStore(spark, root, n_buckets=4)

    def crash(src, dst):
        raise RuntimeError("crashed before the rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(RuntimeError, match="before the rename"):
            store.upsert_chunks(chunks)
    meta = os.path.join(root, "_store_meta.json")
    assert not os.path.exists(meta)
    reopened = ChunkStore(spark, root, n_buckets=4)
    assert os.path.exists(meta)
    assert reopened.count() == chunks.count()


def test_zorder_append_leaves_no_pin(spark, tmp_path):
    from lovdata_pipeline_spark.operators.layout import zorder_append, zorder_write_index

    ev = spark.createDataFrame(
        [(i, i % 50, (i * 13) % 77) for i in range(300)], "event_id long, x long, y long"
    )
    idx = str(tmp_path / "zidx")
    zorder_write_index(ev.filter(F.col("event_id") % 3 != 0), idx, "x", "y", n_buckets=8)
    rest = ev.filter(F.col("event_id") % 3 == 0)
    before = _pinned_ids(spark)
    res = zorder_append(spark, rest, idx)
    assert not (_pinned_ids(spark) - before)
    assert res["appended"] == 100
    assert spark.read.parquet(idx).count() == 300


def _fail_after(real):
    """``real`` run for its side effects (its cache fills), then a raise:
    a failure after a cached frame holds blocks."""

    def fail(*args, **kwargs):
        real(*args, **kwargs)
        raise RuntimeError("injected failure")

    return fail


@pytest.mark.parametrize("site", ["ngram_jaccard_pairs", "global_token_offsets"])
def test_failed_call_leaves_no_pin(spark, monkeypatch, site):
    """An exception between a cache and its release leaves nothing
    pinned: ``session.cached`` unpersists on every exit path. The
    shingle cache of ``ngram_jaccard_pairs`` fails in the verify step,
    ``global_token_offsets``' ``with_pid`` in the phase-1 collect."""
    from lovdata_pipeline_spark.operators import dedup, packing

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 4}") for i in range(12)], "doc_id long, text string"
    )
    if site == "ngram_jaccard_pairs":
        monkeypatch.setattr(
            dedup, "_verify_jaccard", _fail_after(lambda sh, *rest: sh.count())
        )
        call = lambda: dedup.ngram_jaccard_pairs(docs, threshold=0.5)  # noqa: E731
    else:
        monkeypatch.setattr(type(docs), "collect", _fail_after(type(docs).collect))
        counts = docs.select("doc_id", F.length("text").alias("n_tokens"))
        call = lambda: packing.global_token_offsets(counts)  # noqa: E731
    before = _pinned_ids(spark)
    with pytest.raises(RuntimeError, match="injected failure"):
        call()
    assert not (_pinned_ids(spark) - before)


def _hll_registers(spark):
    from lovdata_pipeline_spark.operators.sketches import hll_registers

    docs = spark.createDataFrame(
        [(i, src, " ".join(f"w{j}" for j in range(lo + i, lo + i + 20)))
         for src, lo in (("a", 0), ("b", 30), ("c", 300)) for i in range(6)],
        "doc_id long, source string, text string",
    )
    return hll_registers(docs, p=5)


def test_hll_pair_overlap_bounded_and_lazy_paths_agree(spark, monkeypatch):
    from lovdata_pipeline_spark.operators.sketches import hll_pair_overlap

    monkeypatch.delenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", raising=False)
    before = _pinned_ids(spark)
    driver = sorted(map(tuple, hll_pair_overlap(_hll_registers(spark), p=5).collect()))
    assert not (_pinned_ids(spark) - before)
    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "0")
    lazy = sorted(map(tuple, hll_pair_overlap(_hll_registers(spark), p=5).collect()))
    assert driver == lazy
    assert len(driver) == 3


def test_pca_rerank_bounded_and_lazy_paths_agree(spark, monkeypatch):
    import numpy as np

    from lovdata_pipeline_spark.operators import reduction

    rng = np.random.default_rng(5)
    corpus = spark.createDataFrame(
        [(i, (rng.normal(size=6) * [4, 2, 1, 0.3, 0.2, 0.1]).astype("float32").tolist())
         for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    m = reduction.pca_fit(corpus, k=3)
    queries = corpus.filter(F.col("vec_id") % 15 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def run():
        out = reduction.pca_rerank_topk(queries, corpus, m, k=5, pool=20, n_cells=8, n_probe=3)
        return sorted(map(tuple, out.collect()))

    monkeypatch.delenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", raising=False)
    before = _pinned_ids(spark)
    driver = run()
    assert not (_pinned_ids(spark) - before)
    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "0")
    assert run() == driver
    assert len(driver) == 8 * 5


def test_pca_rerank_recall_query_bounded_and_lazy_paths_agree(spark, tmp_path, monkeypatch):
    import numpy as np

    from lovdata_pipeline_spark.queries import ann_pca_rerank_recall_embeddings

    rng = np.random.default_rng(7)
    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, rng.normal(size=64).astype("float32").tolist()) for i in range(500)],
        "vec_id long, embedding array<float>",
    ).write.parquet(f"{sf}/embeddings.parquet")
    monkeypatch.delenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", raising=False)
    before = _pinned_ids(spark)
    driver = [tuple(r) for r in ann_pca_rerank_recall_embeddings(spark, sf).collect()]
    assert not (_pinned_ids(spark) - before)
    monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "0")
    assert [tuple(r) for r in ann_pca_rerank_recall_embeddings(spark, sf).collect()] == driver
    assert driver


def test_driver_rows_keeps_values_and_schema_exact(spark):
    """``session.driver_rows`` takes its types from the schema, not from
    the values: a large long next to a null stays exact (pandas would
    widen the column to float64), structs and arrays round-trip, empty
    input keeps the schema, and ``Row`` objects from ``collect_bounded``
    rebuild the frame they came from."""
    from pyspark.sql import Row

    from lovdata_pipeline_spark.operators.skew import collect_bounded
    from lovdata_pipeline_spark.session import driver_rows

    big = 2**62 + 1
    rows = driver_rows(spark, [(big, "a"), (None, "b")], "x long, s string").collect()
    assert [tuple(r) for r in rows] == [(big, "a"), (None, "b")]

    nested = driver_rows(
        spark,
        [((big, "q"), [big, None]), (Row(a=None, b="r"), None), ((1, None), [])],
        "st struct<a:long,b:string>, arr array<long>",
    ).collect()
    assert [(tuple(r.st), r.arr) for r in nested] == [
        ((big, "q"), [big, None]),
        ((None, "r"), None),
        ((1, None), []),
    ]

    empty = driver_rows(spark, [], "x long, s string")
    assert empty.schema.simpleString() == "struct<x:bigint,s:string>"
    assert empty.collect() == []
    assert empty.join(spark.range(5).withColumnRenamed("id", "x"), "x").count() == 0

    src = spark.range(4).selectExpr(
        "id", "if(id = 2, null, id + 4611686018427387905) AS big",
        "named_struct('k', id, 'v', array(id, null)) AS st",
    )
    got = collect_bounded(src, warn=False)
    assert sorted(driver_rows(spark, got, src.schema).collect()) == sorted(got)
