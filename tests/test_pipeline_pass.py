"""One incremental pass = one fused chunk-and-embed stage, one decision
aggregate, one chunk-store rewrite and one state commit.

The pass below mixes every kind of change a sync can bring: a modified,
an added and a removed document, a poison document fixed, a processed
document turned poison, and one emptied to zero chunks. Its result must
equal the per-operation API sequence (upsert, delete, mark processed,
mark failed, remove), land as ONE state snapshot, leave one data file
per bucket, and converge when the state commit fails after the store
rewrite landed. The rewrite takes its buckets from the decision
aggregate (no probe job), the provider embeds each stored chunk once,
and a provider failure fails the pass before anything is written.
"""

import json
import os
import shutil
from pathlib import Path

import pytest

from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from lovdata_pipeline_spark.chunking import chunk_documents_df
from lovdata_pipeline_spark.config import ChunkParams, PipelineConfig
from lovdata_pipeline_spark.embedding import embed_chunks_df, mock_hash_provider
from lovdata_pipeline_spark.pipeline import chunk_and_embed_df, run_pipeline
from lovdata_pipeline_spark.schemas import DOCUMENTS_SCHEMA
from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
from lovdata_pipeline_spark.sources.state_store import StateStore

from tests import fixtures

CFG = PipelineConfig(chunk=ChunkParams(100, 500, 300, 0.15), embedding_dims=8)
N_BUCKETS = 8

V1 = [
    ("modified", fixtures.standard_law(), "hm1", "added"),
    ("unchanged", fixtures.change_law(), "hu1", "added"),
    ("removed", fixtures.simple_law(), "hr1", "added"),
    ("poison_fixed", fixtures.malformed(), "hp1", "added"),
    ("turned_poison", fixtures.law_with_list(), "ht1", "added"),
    ("emptied", fixtures.law_with_crossrefs(), "he1", "added"),
]
V2 = [
    ("modified", fixtures.simple_law(), "hm2", "modified"),
    ("unchanged", fixtures.change_law(), "hu1", "unchanged"),
    ("removed", None, "hr1", "removed"),
    ("poison_fixed", fixtures.law_with_list(), "hp2", "modified"),
    ("turned_poison", fixtures.malformed(), "ht2", "modified"),
    ("emptied", fixtures.empty_law(), "he2", "modified"),
    ("added", fixtures.standard_law(), "ha2", "added"),
]


def _docs(spark, rows):
    return spark.createDataFrame(
        [(d, "ds", f"ds/{d}.xml", xml, h, s) for d, xml, h, s in rows], DOCUMENTS_SCHEMA
    )


def _open(spark, root: Path):
    return ChunkStore(spark, root / "store", n_buckets=N_BUCKETS), StateStore(spark, root / "state")


def _store_rows(store):
    return sorted((r.asDict() for r in store.read().collect()), key=lambda r: r["chunk_id"])


def _state_rows(state):
    return sorted(tuple(r) for r in state.read().collect())


def _bucket_files(store):
    return {
        d.name: sorted(p.name for p in d.glob("*.parquet"))
        for d in Path(store.root).glob("bucket=*")
    }


@pytest.fixture(scope="module")
def v1_root(spark, tmp_path_factory):
    """Store and state after ingesting V1; each pass works on a copy."""
    root = tmp_path_factory.mktemp("v1")
    r = run_pipeline(_docs(spark, V1), *_open(spark, root), CFG, now="t1")
    assert (r.processed, r.failed, r.removed) == (5, 1, 0)
    return root


def _fork(spark, v1_root, root: Path):
    shutil.copytree(v1_root, root)
    return _open(spark, root)


@pytest.fixture(scope="module")
def clean(spark, v1_root, tmp_path_factory):
    """The V2 pass over a copy of V1, with the snapshot versions and
    bucket files from before it."""
    store, state = _fork(spark, v1_root, tmp_path_factory.mktemp("clean") / "run")
    versions, files = state._versions(), _bucket_files(store)
    r = run_pipeline(_docs(spark, V2), store, state, CFG, now="t2")
    assert (r.processed, r.failed, r.removed) == (4, 1, 1)
    return store, state, versions, files


def _per_op_pass(spark, store, state):
    """The V2 pass as the individual store and state operations."""
    changed = _docs(spark, [r for r in V2 if r[3] in ("added", "modified")])
    chunked = chunk_documents_df(changed, CFG.chunk)
    enriched = embed_chunks_df(
        chunked.filter(F.col("error").isNull()),
        provider=mock_hash_provider(CFG.embedding_dims),
        model_name=CFG.embedding_model,
        embedded_at="t2",
        batch_size=CFG.embed_batch_size,
        dims=CFG.embedding_dims,
    )
    store.upsert_chunks(enriched)
    store.delete_documents(
        spark.createDataFrame(
            [("emptied",), ("turned_poison",), ("removed",)], "document_id string"
        )
    )
    state.mark_processed(
        spark.createDataFrame(
            [("modified", "hm2"), ("poison_fixed", "hp2"), ("emptied", "he2"), ("added", "ha2")],
            "doc_id string, hash string",
        ),
        "t2",
    )
    errors = chunked.filter(F.col("error").isNotNull()).select(
        F.col("document_id").alias("doc_id"), F.col("source_hash").alias("hash"), "error"
    )
    state.mark_failed(errors, "t2")
    state.remove(spark.createDataFrame([("removed",)], "doc_id string"))


class TestMixedDeltaPass:
    def test_pass_equals_per_op_sequence(self, spark, v1_root, clean, tmp_path):
        store, state, versions, files = clean
        ref_store, ref_state = _fork(spark, v1_root, tmp_path / "per_op")
        _per_op_pass(spark, ref_store, ref_state)
        assert _store_rows(store) == _store_rows(ref_store)
        assert _state_rows(state) == _state_rows(ref_state)
        assert {row[0] for row in _state_rows(state) if row[2] == "failed"} == {"turned_poison"}

        # exactly one new snapshot
        assert set(state._versions()) - set(versions) == {max(versions) + 1}
        # every bucket the rewrite touched holds exactly one data file
        after = _bucket_files(store)
        touched = {b for b in set(files) | set(after) if files.get(b) != after.get(b)}
        assert touched
        assert all(len(after[b]) == 1 for b in touched if b in after), after

    def test_state_commit_crash_converges(self, spark, v1_root, clean, tmp_path, monkeypatch):
        clean_store, clean_state, versions, _ = clean
        store, state = _fork(spark, v1_root, tmp_path / "crashed")
        commit = StateStore._commit
        calls = []

        def fail_once(self, df, keep=3):
            calls.append(1)
            if len(calls) == 1:
                raise RuntimeError("state commit lost")
            return commit(self, df, keep)

        monkeypatch.setattr(StateStore, "_commit", fail_once)
        with pytest.raises(RuntimeError, match="state commit lost"):
            run_pipeline(_docs(spark, V2), store, state, CFG, now="t2")
        # the store rewrite landed, the state did not move
        assert store.chunks_for_document("removed").count() == 0
        assert state._versions() == versions

        r = run_pipeline(_docs(spark, V2), store, state, CFG, now="t2")
        assert (r.processed, r.failed, r.removed) == (4, 1, 1)
        assert _store_rows(store) == _store_rows(clean_store)
        assert _state_rows(state) == _state_rows(clean_state)


def _bucket_of(spark, store, doc_id):
    return spark.range(1).select(store._bucket_col(doc_id)).first()[0]


def _changed_buckets(before, after):
    return {b for b in set(before) | set(after) if before.get(b) != after.get(b)}


def test_touched_buckets_come_from_the_decision_aggregate(spark, v1_root, tmp_path, monkeypatch):
    """The store rewrite runs no probe collect, and the buckets whose files
    change are exactly those of the written documents plus those of the
    previously stored ones; a never-stored poison document's bucket is
    left alone."""
    store, state = _fork(spark, v1_root, tmp_path / "run")
    written = {"modified", "poison_fixed", "added"}
    stored = {"modified", "removed", "turned_poison", "emptied"}
    expected = {f"bucket={_bucket_of(spark, store, d)}" for d in written | stored}
    # a never-stored poison document whose bucket nothing else touches
    poison = next(
        d for d in (f"new_poison_{i}" for i in range(100))
        if f"bucket={_bucket_of(spark, store, d)}" not in expected
    )
    before = _bucket_files(store)

    collects = []
    rewrite, collect = ChunkStore._rewrite, DataFrame.collect

    def counted_rewrite(self, *args, **kwargs):
        def counted_collect(df):
            collects.append(df)
            return collect(df)

        with monkeypatch.context() as m:
            m.setattr(DataFrame, "collect", counted_collect)
            return rewrite(self, *args, **kwargs)

    monkeypatch.setattr(ChunkStore, "_rewrite", counted_rewrite)
    r = run_pipeline(
        _docs(spark, V2 + [(poison, fixtures.malformed(), "hn2", "added")]),
        store, state, CFG, now="t2",
    )
    assert (r.processed, r.failed, r.removed) == (4, 2, 1)
    assert collects == []
    assert _changed_buckets(before, _bucket_files(store)) == expected


def _logging_provider(log_dir, dims):
    """The mock provider, recording every call's texts as one JSON file."""
    embed = mock_hash_provider(dims)

    def provider(texts):
        import uuid

        with open(os.path.join(log_dir, f"{uuid.uuid4().hex}.json"), "w") as fh:
            json.dump(texts, fh)
        return embed(texts)

    return provider


def test_provider_embeds_each_stored_chunk_once(spark, v1_root, tmp_path):
    store, state = _fork(spark, v1_root, tmp_path / "run")
    log = tmp_path / "calls"
    log.mkdir()
    cfg = PipelineConfig(chunk=CFG.chunk, embedding_dims=8, embed_batch_size=3)
    provider = _logging_provider(str(log), 8)
    r = run_pipeline(_docs(spark, V2), store, state, cfg, now="t2", provider=provider)
    assert (r.processed, r.failed, r.removed) == (4, 1, 1)

    calls = [json.loads(p.read_text()) for p in log.glob("*.json")]
    assert calls and max(len(c) for c in calls) <= 3
    embedded = sorted(t for c in calls for t in c)
    written = store.read().filter(F.col("document_id").isin("modified", "poison_fixed", "added"))
    assert embedded == sorted(row.content for row in written.select("content").collect())
    # error rows (content NULL, sent as "") never reach the provider
    assert "" not in embedded


def test_provider_failure_fails_the_pass(spark, v1_root, tmp_path):
    store, state = _fork(spark, v1_root, tmp_path / "run")
    versions, files = state._versions(), _bucket_files(store)

    def down(texts):
        raise RuntimeError("embedding provider down")

    with pytest.raises(Exception, match="embedding provider down"):
        run_pipeline(_docs(spark, V2), store, state, CFG, now="t2", provider=down)
    assert _bucket_files(store) == files
    assert state._versions() == versions


@pytest.mark.parametrize("rows_per_batch", ["10000", "2"])
def test_fused_stage_equals_chunk_then_embed(spark, rows_per_batch):
    """Per partition: all poison, all zero-chunk, empty, and mixed. The
    fused stage's rows equal embedding the chunker's good rows, plus its
    error rows with NULL embedding columns — also when each Arrow batch
    holds two documents and the embed slices are two chunks."""
    groups = [
        [("p1", fixtures.malformed()), ("p2", fixtures.malformed())],
        [("z1", fixtures.empty_law()), ("z2", fixtures.empty_law())],
        [],
        [("g1", fixtures.standard_law()), ("p3", fixtures.malformed()),
         ("z3", fixtures.empty_law()), ("g2", fixtures.law_with_list())],
    ]
    rows = spark.sparkContext.parallelize(groups, len(groups)).flatMap(
        lambda g: [(d, "ds", f"ds/{d}.xml", xml, f"h_{d}", "added") for d, xml in g]
    )
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    assert docs.rdd.glom().map(len).collect() == [2, 2, 0, 4]

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, rows_per_batch)
    try:
        provider = mock_hash_provider(CFG.embedding_dims)
        fused = chunk_and_embed_df(docs, CFG.chunk, provider, "m", "t", 3).collect()
        chunks = chunk_documents_df(docs, CFG.chunk)
        good = embed_chunks_df(
            chunks.filter(F.col("error").isNull()),
            provider=provider, model_name="m", embedded_at="t", batch_size=3,
        )
        errors = chunks.filter(F.col("error").isNotNull()).select(
            "*",
            F.lit(None).cast("array<float>").alias("embedding"),
            F.lit(None).cast("string").alias("embedding_model"),
            F.lit(None).cast("string").alias("embedded_at"),
        )
        want = good.unionByName(errors).collect()
    finally:
        spark.conf.set(key, old)

    def rows_of(got):
        return sorted((r.asDict() for r in got), key=lambda r: r["chunk_id"])

    assert rows_of(fused) == rows_of(want)
    assert {r.document_id for r in fused if r.error} == {"p1", "p2", "p3"}
    assert {r.document_id for r in fused if not r.error} == {"g1", "g2"}
