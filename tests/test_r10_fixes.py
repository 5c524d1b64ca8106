"""Round-10 hygiene fixes: the last two lazy scoped persists get
release paths (r10 VERDICT Next #5), index_path misuse fails loud, and
the bucketed-bitext empty-source case short-circuits instead of
broadcasting the full target side (r9 ADVICE)."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from lovdata_pipeline_spark.cli import main
from lovdata_pipeline_spark.operators.similarity import bitext_margin_mine

from tests.conftest import _pinned_ids
from tests.test_r9_operators import _clustered_bitext


class TestBitextPersistRelease:
    def test_mine_releases_pair_scores_keeps_result_cached(self, spark):
        """The corpus²-shaped pair-score frame is unpersisted before the
        operator returns; the only surviving pin is the (small, eagerly
        materialized) result itself, released by the caller."""
        src, tgt = _clustered_bitext(spark)
        before = _pinned_ids(spark)
        out = bitext_margin_mine(src, tgt, k=2, threshold=0.0, buckets=16)
        assert len(_pinned_ids(spark) - before) == 1  # the cached result only
        assert out.count() == 12
        out.unpersist()
        assert not (_pinned_ids(spark) - before)

    def test_exact_path_also_releases(self, spark):
        src, tgt = _clustered_bitext(spark, n_clusters=2, per_side=2)
        before = _pinned_ids(spark)
        out = bitext_margin_mine(src, tgt, k=2, threshold=0.0)
        assert len(_pinned_ids(spark) - before) == 1
        out.unpersist()
        assert not (_pinned_ids(spark) - before)

    def test_bucketed_empty_source_short_circuits(self, spark):
        """buckets set + empty (filtered) source side: the result is an
        empty frame with the mined-pair schema — the exact fallback's
        full-target broadcast never builds (r9 ADVICE #2)."""
        src, tgt = _clustered_bitext(spark)
        empty_src = src.filter(F.col("src_id") < 0)
        before = _pinned_ids(spark)
        out = bitext_margin_mine(empty_src, tgt, k=2, threshold=0.0, buckets=16)
        assert out.columns == ["src_id", "tgt_id", "score", "margin"]
        assert out.count() == 0
        # the short-circuit neither scores nor persists anything
        assert not (_pinned_ids(spark) - before)
        # and the physical plan contains no broadcast of the target side
        assert "Broadcast" not in out._jdf.queryExecution().executedPlan().toString()

    def test_mine_cli_leaves_no_pins(self, spark, tmp_path, capsys):
        """`lg mine --buckets` round-trip leaves getPersistentRDDs at its
        pre-invocation level (compare against BEFORE — the shared test
        session may hold documented caches from other tests)."""
        rng_rows = []
        for c in range(3):
            base = [0.0] * 4
            base[c] = 1.0
            for i in range(2):
                vec = [x + 0.001 * i for x in base]
                rng_rows.append((c * 10 + i, "no", vec))
                rng_rows.append((c * 10 + 5 + i, "en", vec))
        emb = spark.createDataFrame(
            [(r[0], r[2]) for r in rng_rows], "vec_id long, embedding array<double>"
        )
        docs = spark.createDataFrame(
            [(r[0], r[1]) for r in rng_rows], "doc_id long, lang string"
        )
        emb_p, docs_p = str(tmp_path / "emb"), str(tmp_path / "docs")
        emb.write.parquet(emb_p)
        docs.write.parquet(docs_p)
        before = _pinned_ids(spark)
        rc = main(
            ["mine", "--embeddings", emb_p, "--documents", docs_p,
             "--output", str(tmp_path / "pairs"), "--src-lang", "no",
             "--tgt-lang", "en", "--k", "2", "--threshold", "0.0",
             "--buckets", "8"]
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["mined_pairs"] > 0
        assert not (_pinned_ids(spark) - before)


class TestPortableJaccard:
    """ngram_jaccard_pairs(portable=True): the md5-60-bit hash variant
    the graded capped row needs (the cap interacts with the prefix
    order's hash tiebreak, so both engines must compute the SAME
    order; the uncapped result is provably order-independent)."""

    def _docs(self, spark):
        from tests.test_r9_operators import TestJaccardDfCap

        return TestJaccardDfCap()._docs(spark)

    def test_portable_uncapped_equals_xxhash(self, spark):
        """Without a cap, prefix filtering is exactness-preserving under
        ANY total order — portable and xxhash forms emit the identical
        pair set with identical jaccard values."""
        from lovdata_pipeline_spark.operators.dedup import ngram_jaccard_pairs

        docs = self._docs(spark)
        fast = sorted(map(tuple, ngram_jaccard_pairs(docs, 0.5).collect()))
        port = sorted(
            map(tuple, ngram_jaccard_pairs(docs, 0.5, portable=True).collect())
        )
        assert fast == port and len(fast) >= 2

    def test_portable_capped_subset_of_exact(self, spark):
        from lovdata_pipeline_spark.operators.dedup import ngram_jaccard_pairs

        docs = self._docs(spark)
        exact = set(map(tuple, ngram_jaccard_pairs(docs, 0.5).collect()))
        capped = set(
            map(
                tuple,
                ngram_jaccard_pairs(docs, 0.5, max_df=2, portable=True).collect(),
            )
        )
        assert capped <= exact


SF1_DIR = "/root/repo/.scale/sf1"


@pytest.mark.skipif(
    not __import__("os").path.isdir(SF1_DIR),
    reason="sf1 corpus not generated (tools/scaleup.py)",
)
def test_ivf_index_partition_pruning_holds_at_sf1(spark, tmp_path):
    """r10 VERDICT Next #6: the persisted-IVF plan assertion re-run at
    the 20k-vector sf1 corpus — probing 2 of 8 cells must read only
    those partitions (PartitionFilters on `cell`) at every scale, not
    just the sf0.01 fixture."""
    from pyspark.sql import functions as F2

    from lovdata_pipeline_spark.operators import similarity

    emb = spark.read.parquet(f"{SF1_DIR}/embeddings.parquet")
    idx = str(tmp_path / "sf1_idx")
    similarity.ivf_write_index(emb, idx, n_cells=8, portable=True)
    query = list(emb.filter(F2.col("vec_id") == 0).first()["embedding"])
    df = similarity.ivf_index_topk(spark, idx, query, k=10, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    assert df.count() == 10


class TestIndexPathGuards:
    def test_knn_edges_index_path_requires_ivf(self, spark):
        from lovdata_pipeline_spark.operators.graph import knn_edges

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(4)],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="candidates='ivf'"):
            knn_edges(emb, k=2, index_path="/nonexistent/idx")

    def test_rank_cli_index_path_requires_ivf(self, spark, tmp_path, capsys):
        emb_p = str(tmp_path / "emb")
        spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(4)],
            "vec_id long, embedding array<double>",
        ).write.parquet(emb_p)
        rc = main(["rank", "--input", emb_p, "--index-path", "/tmp/whatever"])
        assert rc == 2
        assert "--candidates ivf" in capsys.readouterr().out

    def test_rank_cli_edges_rejects_index_path(self, spark, tmp_path, capsys):
        """The fail-loud guard covers the --edges branch too (r10 review):
        saved edges are ranked as-is, so --index-path alongside them
        would be silently ignored — the exact intent-defeat class the
        --input guard exists for."""
        edges_p = str(tmp_path / "edges")
        spark.createDataFrame(
            [(0, 1), (1, 0)], "src long, dst long"
        ).write.parquet(edges_p)
        rc = main(["rank", "--edges", edges_p, "--index-path", "/tmp/whatever"])
        assert rc == 2
        assert "no effect with --edges" in capsys.readouterr().out

    def test_knn_edges_index_path_leaves_no_pins(self, spark, tmp_path):
        """The r9 probe persist is gone: building edges from a persisted
        index leaves getPersistentRDDs at its pre-invocation level —
        nothing in knn_edges persists anymore."""
        from lovdata_pipeline_spark.operators.graph import knn_edges, knn_write_ivf_index

        rows = [(i, [1.0, 0.001 * i, 0.0]) for i in range(10)] + [
            (i, [math.cos(0.7 * i), math.sin(0.7 * i), 0.5]) for i in range(10, 18)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        idx = str(tmp_path / "op_idx")
        knn_write_ivf_index(emb, idx, n_cells=4)
        before = _pinned_ids(spark)
        edges = knn_edges(emb, k=3, candidates="ivf", n_probe=4, index_path=idx)
        assert edges.count() > 0
        assert not (_pinned_ids(spark) - before)

    def test_rank_index_path_pins_only_checkpoints(self, spark, tmp_path, capsys):
        """`lg rank --index-path` leaves exactly pagerank's n_iter+1
        localCheckpoint blocks — ContextCleaner-owned (released when the
        JVM GCs the dropped references; probed empirically), NOT
        CacheManager entries, which are strong-referenced forever — the
        leak class the r9 probe persist belonged to and which is now
        zero."""
        rows = [(i, [1.0, 0.001 * i, 0.0]) for i in range(10)] + [
            (i, [math.cos(0.7 * i), math.sin(0.7 * i), 0.5]) for i in range(10, 18)
        ]
        emb_p, idx = str(tmp_path / "emb"), str(tmp_path / "idx")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).write.parquet(emb_p)
        rc = main(
            ["index", "--input", emb_p, "--output", idx, "--cells", "4",
             "--graph"]
        )
        assert rc == 0
        capsys.readouterr()
        before = _pinned_ids(spark)
        rc = main(
            ["rank", "--input", emb_p, "-k", "3", "--candidates", "ivf",
             "--probe", "4", "--index-path", idx, "--top", "5"]
        )
        assert rc == 0
        lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
        assert len(lines) == 5 and all(l["rank_q"] > 0 for l in lines)
        # default n_iter=3 → AT MOST 3 rank checkpoints + the node-set
        # checkpoint remain pinned. Upper bound, not equality: these
        # blocks are ContextCleaner-owned and unreferenced once main()
        # returns, so a JVM GC between the CLI call and this assert may
        # legitimately release some early (the flake class _pinned_ids'
        # docstring names — an == would race it). The leak REGRESSION
        # this test guards (a strong persist() pin, e.g. the r9 probe
        # frame) always shows as a 5th surviving id, which the bound
        # still catches.
        assert len(_pinned_ids(spark) - before) <= 4


class TestLateR10ReviewFixes:
    """Pins for the late-r10 review pass over sources/ and streaming/."""

    def test_chunk_store_rejects_mismatched_n_buckets(self, spark, tmp_path):
        """The bucket count is part of the on-disk layout: reopening with
        a different modulus must fail loud, not silently miss lookups
        and duplicate reprocessed documents across buckets."""
        from lovdata_pipeline_spark.schemas import ENRICHED_CHUNKS_SCHEMA
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

        root = str(tmp_path / "store")
        store = ChunkStore(spark, root, n_buckets=4)
        row = {f.name: None for f in ENRICHED_CHUNKS_SCHEMA.fields}
        row.update(
            chunk_id="d1_chunk_0",
            document_id="d1",
            chunk_pos=0,
            content="x",
            token_count=1,
        )
        store.upsert_chunks(
            spark.createDataFrame([tuple(row[f.name] for f in ENRICHED_CHUNKS_SCHEMA.fields)], ENRICHED_CHUNKS_SCHEMA)
        )
        # same modulus reopens fine
        assert ChunkStore(spark, root, n_buckets=4).count() == 1
        # the default ADOPTS the persisted layout (CLI consumers reopen
        # stores without knowing their bucket count)
        assert ChunkStore(spark, root).n_buckets == 4
        with pytest.raises(ValueError, match="n_buckets=4"):
            ChunkStore(spark, root, n_buckets=8)

    def test_interval_join_renames_colliding_payload_columns(self, spark):
        """Both sides carrying the engine's standard event shape must not
        produce ambiguous duplicate columns in the join output."""
        from lovdata_pipeline_spark.streaming.windows import interval_join

        left = spark.createDataFrame(
            [], "ts timestamp, user_id long, event_type string, value double"
        )
        right = spark.createDataFrame(
            [], "ts timestamp, user_id long, event_type string, value double, click_id long"
        )
        out = interval_join(left, right)
        assert sorted(out.columns) == sorted(
            [
                "ts", "user_id", "event_type", "value",
                "r_ts", "r_user_id", "r_event_type", "r_value", "click_id",
            ]
        )

    def test_manifest_diff_removed_rows_keep_location(self, spark):
        """A removed file has no current row — its dataset_name and
        relative_path must come from the PREVIOUS manifest, not NULL."""
        from lovdata_pipeline_spark.sources.xml_corpus import manifest_diff

        cols = "doc_id string, dataset_name string, relative_path string, source_hash string"
        cur = spark.createDataFrame([("a", "ds1", "ds1/a.xml", "h1")], cols)
        prev = spark.createDataFrame(
            [("a", "ds1", "ds1/a.xml", "h1"), ("gone", "ds2", "ds2/g.xml", "h2")],
            cols,
        )
        rows = {r.doc_id: r for r in manifest_diff(cur, prev).collect()}
        assert rows["gone"].status == "removed"
        assert rows["gone"].dataset_name == "ds2"
        assert rows["gone"].relative_path == "ds2/g.xml"
        assert rows["gone"].source_hash == "h2"
        assert rows["a"].status == "unchanged"
