"""Incremental lifecycle matrix — mirrors the reference's end-to-end
contract (reference: tests/end2end/incremental_update_test.py:179-537;
scenario table in FIXTURES.md §3)."""

import pytest

from pyspark.sql import functions as F

from lovdata_pipeline_spark.config import ChunkParams, PipelineConfig
from lovdata_pipeline_spark.operators.validation import validate
from lovdata_pipeline_spark.pipeline import run_pipeline
from lovdata_pipeline_spark.schemas import DOCUMENTS_SCHEMA
from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
from lovdata_pipeline_spark.sources.state_store import StateStore

from tests import fixtures

CFG = PipelineConfig(chunk=ChunkParams(100, 500, 300, 0.15), embedding_dims=8)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


@pytest.fixture
def stores(spark, tmp_path):
    return (
        ChunkStore(spark, tmp_path / "chunks", n_buckets=4),
        StateStore(spark, tmp_path / "state"),
    )


RUN1 = [
    ("doc1", "ds", "p/1.xml", None, "h1_v1", "added"),
    ("doc2", "ds", "p/2.xml", None, "h2_v1", "added"),
    ("doc3", "ds", "p/3.xml", None, "h3_v1", "added"),
]


def _with_xml(rows):
    xml = {
        "doc1": fixtures.standard_law(),
        "doc2": fixtures.change_law(),
        "doc3": fixtures.simple_law(),
        "doc4": fixtures.law_with_list(),
    }
    return [(d, ds, p, xml[d], h, s) for d, ds, p, _, h, s in rows]


def test_flatten_sync_state_lovlig_shape(spark, tmp_path):
    """Op 3: lovlig's nested state.json becomes one manifest row per
    file — the dataset name is the archive minus ``.tar.bz2``, doc_id the
    file stem, a missing status reads ``added`` and a missing sha256
    reads as an empty hash."""
    import json

    from lovdata_pipeline_spark.operators.incremental import flatten_sync_state
    from lovdata_pipeline_spark.schemas import MANIFEST_SCHEMA

    state = {
        "raw_datasets": {
            "gjeldende-lover.tar.bz2": {
                "files": {
                    "nl/nl-18840614-003.xml": {"sha256": "aa", "status": "modified"},
                    "nl/nl-19020522-010.xml": {"sha256": "bb"},
                }
            },
            "gjeldende-sentrale-forskrifter.tar.bz2": {
                "files": {"sf/sf-20050627-0709.xml": {"status": "removed"}}
            },
            "empty-archive.tar.bz2": {},
        }
    }
    path = tmp_path / "state.json"
    path.write_text(json.dumps(state))
    manifest = flatten_sync_state(spark, path)
    assert manifest.schema == MANIFEST_SCHEMA
    assert sorted(tuple(r) for r in manifest.collect()) == [
        ("nl-18840614-003", "gjeldende-lover", "nl/nl-18840614-003.xml", "aa", "modified"),
        ("nl-19020522-010", "gjeldende-lover", "nl/nl-19020522-010.xml", "bb", "added"),
        (
            "sf-20050627-0709",
            "gjeldende-sentrale-forskrifter",
            "sf/sf-20050627-0709.xml",
            "",
            "removed",
        ),
    ]

    path.write_text("{}")
    empty = flatten_sync_state(spark, path)
    assert empty.schema == MANIFEST_SCHEMA
    assert empty.count() == 0


class TestLifecycle:
    def test_full_matrix(self, spark, stores):
        store, state = stores
        r1 = run_pipeline(_docs(spark, _with_xml(RUN1)), store, state, CFG, now="t1")
        assert (r1.processed, r1.failed, r1.removed) == (3, 0, 0)
        count_after_r1 = store.count()
        assert count_after_r1 > 0
        doc1_chunks_r1 = {r.chunk_id for r in store.chunks_for_document("doc1").collect()}

        # run 2: doc1 unchanged, doc2 modified, doc3 removed, doc4 added
        run2 = [
            ("doc1", "ds", "p/1.xml", None, "h1_v1", "unchanged"),
            ("doc2", "ds", "p/2.xml", None, "h2_v2", "modified"),
            ("doc3", "ds", "p/3.xml", None, "h3_v1", "removed"),
            ("doc4", "ds", "p/4.xml", None, "h4_v1", "added"),
        ]
        r2 = run_pipeline(_docs(spark, _with_xml(run2)), store, state, CFG, now="t2")
        assert (r2.processed, r2.failed, r2.removed) == (2, 0, 1)

        # state holds exactly {doc1,doc2,doc4}, all processed
        srows = {r.doc_id: r for r in state.read().collect()}
        assert set(srows) == {"doc1", "doc2", "doc4"}
        assert srows["doc2"].hash == "h2_v2"
        assert srows["doc1"].at == "t1"  # untouched on run 2

        # store and state converge (validation op)
        result = validate(state.processed(), store.distinct_document_ids())
        assert result.consistent

        # doc1 chunks untouched; doc3 gone
        assert {r.chunk_id for r in store.chunks_for_document("doc1").collect()} == doc1_chunks_r1
        assert store.chunks_for_document("doc3").count() == 0

    def test_skip_unchanged_and_force(self, spark, stores):
        store, state = stores
        run_pipeline(_docs(spark, _with_xml(RUN1)), store, state, CFG, now="t1")
        # identical rerun → nothing to do
        r = run_pipeline(_docs(spark, _with_xml(RUN1)), store, state, CFG, now="t2")
        assert (r.processed, r.failed, r.removed) == (0, 0, 0)
        # force → everything reprocessed
        cfg = PipelineConfig(chunk=CFG.chunk, embedding_dims=8, force=True)
        rf = run_pipeline(_docs(spark, _with_xml(RUN1)), store, state, cfg, now="t3")
        assert rf.processed == 3

    def test_failed_then_fixed_retry(self, spark, stores):
        store, state = stores
        bad = [("docx", "ds", "p/x.xml", fixtures.malformed(), "hx_v1", "added")]
        r1 = run_pipeline(_docs(spark, bad), store, state, CFG, now="t1")
        assert (r1.processed, r1.failed) == (0, 1)
        assert state.failed().count() == 1
        assert store.count() == 0

        # same hash → failed doc IS retried: the anti-join consults only the
        # processed state, as the reference retries failed docs every run
        # (state.is_processed only checks the processed map, state.py:77-81)
        r2 = run_pipeline(_docs(spark, bad), store, state, CFG, now="t2")
        assert r2.failed == 1

        # fixed content, new hash → processed, failure row cleared
        good = [("docx", "ds", "p/x.xml", fixtures.simple_law(), "hx_v2", "modified")]
        r3 = run_pipeline(_docs(spark, good), store, state, CFG, now="t3")
        assert (r3.processed, r3.failed) == (1, 0)
        assert state.failed().count() == 0
        assert store.chunks_for_document("docx").count() > 0

    def test_limit_and_dataset_filter(self, spark, stores):
        store, state = stores
        cfg = PipelineConfig(chunk=CFG.chunk, embedding_dims=8, limit=2)
        r = run_pipeline(_docs(spark, _with_xml(RUN1)), store, state, cfg, now="t1")
        assert r.processed == 2

        store2 = ChunkStore(spark, str(store.root) + "2", n_buckets=4)
        state2 = StateStore(spark, str(state.root) + "2")
        rows = [
            (d, "other" if d == "doc3" else "ds", p, x, h, s)
            for d, _, p, x, h, s in _with_xml(RUN1)
        ]
        cfg2 = PipelineConfig(chunk=CFG.chunk, embedding_dims=8, dataset_pattern="ds")
        r2 = run_pipeline(_docs(spark, rows), store2, state2, cfg2, now="t1")
        assert r2.processed == 2

    def test_modified_doc_that_fails_loses_stale_chunks(self, spark, stores):
        """Reference parity: on processing failure the doc's existing chunks
        are deleted (file_processing_service.py cleanup branch) — a modified
        doc whose new version fails to parse must NOT keep serving its old
        version's chunks, and state-vs-store validate() stays consistent."""
        store, state = stores
        ok = [("docy", "ds", "p/y.xml", fixtures.simple_law(), "hy_v1", "added")]
        r1 = run_pipeline(_docs(spark, ok), store, state, CFG, now="t1")
        assert r1.processed == 1
        assert store.chunks_for_document("docy").count() > 0

        broken = [("docy", "ds", "p/y.xml", fixtures.malformed(), "hy_v2", "modified")]
        r2 = run_pipeline(_docs(spark, broken), store, state, CFG, now="t2")
        assert r2.failed == 1
        assert store.chunks_for_document("docy").count() == 0
        report = validate(state.processed(), store.distinct_document_ids())
        assert report.in_state_not_store == []
        assert report.in_store_not_state == []

    def test_empty_doc_is_processed_success(self, spark, stores):
        store, state = stores
        rows = [("empty1", "ds", "p/e.xml", fixtures.empty_law(), "he_v1", "added")]
        r = run_pipeline(_docs(spark, rows), store, state, CFG, now="t1")
        assert (r.processed, r.failed) == (1, 0)
        assert store.count() == 0
        assert state.processed().count() == 1


class TestStores:
    def test_upsert_replaces_document(self, spark, stores):
        store, state = stores
        from lovdata_pipeline_spark.chunking import chunk_documents_df
        from lovdata_pipeline_spark.embedding import embed_chunks_df

        docs = _docs(spark, _with_xml(RUN1))
        enriched = embed_chunks_df(chunk_documents_df(docs, CFG.chunk), dims=8)
        store.upsert_chunks(enriched)
        n = store.count()

        # re-upsert same docs → identical count (replace, not append)
        store.upsert_chunks(enriched)
        assert store.count() == n

        n_doc1 = store.chunks_for_document("doc1").count()
        deleted = store.delete_documents(
            spark.createDataFrame([("doc1",)], "document_id string")
        )
        assert deleted == n_doc1
        assert store.chunks_for_document("doc1").count() == 0
        assert store.count() == n - n_doc1

    def test_state_status_counts(self, spark, stores):
        _, state = stores
        state.mark_processed(
            spark.createDataFrame([("a", "h1"), ("b", "h2")], "doc_id string, hash string"),
            at="t1",
        )
        state.mark_failed(
            spark.createDataFrame(
                [("c", "h3", "boom")], "doc_id string, hash string, error string"
            ),
            at="t1",
        )
        counts = {r.status: r["count"] for r in state.status_counts().collect()}
        assert counts == {"processed": 2, "failed": 1}
        # processed clears failed (state.py:83-92)
        state.mark_processed(
            spark.createDataFrame([("c", "h4")], "doc_id string, hash string"), at="t2"
        )
        assert state.failed().count() == 0


class TestBucketFileDiscipline:
    def test_buckets_hold_exactly_one_file_after_repeated_mutations(self, spark, stores):
        """The layout's no-small-files invariant: every mutation rewrites
        its touched buckets wholesale (dynamic overwrite + one task per
        bucket), so bucket dirs hold exactly ONE parquet file at all
        times — no compaction pass exists or is needed."""
        from pathlib import Path

        from lovdata_pipeline_spark.chunking import chunk_documents_df
        from lovdata_pipeline_spark.embedding import embed_chunks_df

        store, _ = stores
        docs = _docs(spark, _with_xml(RUN1))
        enriched = embed_chunks_df(chunk_documents_df(docs, CFG.chunk), dims=8)
        store.upsert_chunks(enriched)
        before = store.count()
        # repeated single-doc upserts and a delete — the mutation patterns
        # that would fragment an append-style layout
        store.upsert_chunks(enriched.filter("document_id = 'doc1'"))
        store.upsert_chunks(enriched.filter("document_id = 'doc2'"))
        store.delete_documents(
            spark.createDataFrame([("doc2",)], "document_id string")
        )
        files = {
            d.name: len(list(d.glob("*.parquet")))
            for d in Path(store.root).glob("bucket=*")
        }
        assert files and all(c == 1 for c in files.values()), files
        n_doc2 = enriched.filter("document_id = 'doc2'").count()
        assert store.count() == before - n_doc2
        assert store.chunks_for_document("doc1").count() > 0
        assert store.chunks_for_document("doc2").count() == 0


class TestExpectationsReport:
    def test_nulls_dups_and_pk_contract(self, spark):
        from lovdata_pipeline_spark.operators.validation import (
            expectations_report,
        )

        df = spark.createDataFrame(
            [
                (1, "a", "x"),
                (2, None, "x"),
                (3, "b", None),
                (4, "a", "x"),  # dup in v, dup in w
                (5, None, "y"),
            ],
            "pk long, v string, w string",
        )
        got = {r.col_name: r for r in expectations_report(df, ["pk", "v", "w"]).collect()}
        assert (got["pk"].n_rows, got["pk"].n_nulls, got["pk"].n_distinct) == (5, 0, 5)
        assert got["pk"].unique_nonnull and got["pk"].null_frac == 0.0
        assert (got["v"].n_nulls, got["v"].n_distinct) == (2, 2)
        assert not got["v"].unique_nonnull and got["v"].null_frac == 0.4
        assert (got["w"].n_nulls, got["w"].n_distinct) == (1, 2)
        assert not got["w"].unique_nonnull

    def test_empty_table_no_divide_by_zero(self, spark):
        from lovdata_pipeline_spark.operators.validation import (
            expectations_report,
        )

        df = spark.createDataFrame([], "pk long, v string")
        got = {r.col_name: r for r in expectations_report(df, ["pk", "v"]).collect()}
        assert got["pk"].n_rows == 0 and got["pk"].null_frac == 0.0
        assert got["pk"].unique_nonnull  # vacuously unique
