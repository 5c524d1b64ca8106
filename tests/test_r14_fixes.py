"""r14 optimization-round regression tests: broadcast contract guard
(VERDICT Next #7), the driver-metadata spread probe, the vectorized
fold twins, and the chunk-store ADVICE closures."""

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from tests.conftest import _pinned_ids


class TestBoundedBroadcast:
    """VERDICT Next #7: the span-surgery broadcasts ride on a rarity
    contract; a mass-duplication corpus must degrade to a shuffle join
    (same values) instead of building an unbounded broadcast. The
    bounded path collects the side to the driver, so it leaves no
    persisted RDD behind (no checkpoint blocks for executor loss to
    strand)."""

    def _mass_dup_inputs(self, spark):
        # EVERY document span-affected — the contract-breaking shape
        docs = spark.createDataFrame(
            [(i, "x" * 40) for i in range(1, 21)], "doc_id long, text string"
        )
        spans = spark.createDataFrame(
            [(0, i, 0, 9, 11, 20) for i in range(1, 21)],
            "doc_a long, doc_b long, a_start long, a_end long, "
            "b_start long, b_end long",
        )
        return docs, spans

    def test_dedup_spans_both_paths_identical(self, spark, monkeypatch):
        from lovdata_pipeline_spark.operators.dedup import remove_duplicated_spans

        docs, spans = self._mass_dup_inputs(spark)
        monkeypatch.delenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", raising=False)
        before = _pinned_ids(spark)
        fast = sorted(
            tuple(r) for r in remove_duplicated_spans(docs, spans).collect()
        )
        assert not (_pinned_ids(spark) - before)
        # bound of 3 << 20 affected docs: the guard must trip and fall
        # back to shuffle joins — with identical output
        monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "3")
        with pytest.warns(RuntimeWarning, match="rarity contract"):
            slow = sorted(
                tuple(r) for r in remove_duplicated_spans(docs, spans).collect()
            )
        assert fast == slow
        assert len(fast) == 20

    def test_decontam_spans_both_paths_identical(self, spark, monkeypatch):
        from lovdata_pipeline_spark.operators.decontam import (
            remove_contaminated_spans,
        )

        # every corpus doc embeds the needle — mass contamination
        needle = "alpha beta gamma delta epsilon zeta"
        corpus = spark.createDataFrame(
            [(i, f"clean head {needle} clean tail {i}") for i in range(1, 16)],
            "doc_id long, text string",
        )
        needles = spark.createDataFrame([(900, needle)], "doc_id long, text string")
        monkeypatch.delenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", raising=False)
        before = _pinned_ids(spark)
        fast = sorted(
            tuple(r)
            for r in remove_contaminated_spans(corpus, needles, anchor_n=3).collect()
        )
        assert not (_pinned_ids(spark) - before)
        monkeypatch.setenv("SPARK_GRAFT_MAX_BROADCAST_ROWS", "3")
        with pytest.warns(RuntimeWarning, match="rarity contract"):
            slow = sorted(
                tuple(r)
                for r in remove_contaminated_spans(
                    corpus, needles, anchor_n=3
                ).collect()
            )
        assert fast == slow
        assert all(r[1] >= 1 for r in fast)  # n_needles_hit: all docs cut


class TestVecmathParity:
    """The Arrow-batched kernels must be bit-identical to the JVM folds
    they replaced (sequential accumulation order)."""

    def test_pair_dot_and_norm_match_fold(self, spark):
        from lovdata_pipeline_spark.operators import _vecmath
        from lovdata_pipeline_spark.operators.similarity import _dot, _norm

        df = spark.createDataFrame(
            [(i, [0.1 * i + 0.01 * j for j in range(16)],
              [0.07 * i - 0.003 * j for j in range(16)])
             for i in range(1, 40)],
            "id long, a array<double>, b array<double>",
        )
        rows = df.select(
            (_vecmath.pair_dot("a", "b") == _dot(F.col("a"), F.col("b"))).alias("d_ok"),
            (_vecmath.vec_norm("a") == _norm(F.col("a"))).alias("n_ok"),
        ).collect()
        assert all(r.d_ok and r.n_ok for r in rows)

    def test_nearest_cell_matches_struct_argmin(self, spark):
        from lovdata_pipeline_spark.operators import _vecmath
        from lovdata_pipeline_spark.operators.similarity import ivf_assign

        cents = [[float(c == j) for j in range(8)] for c in range(4)]
        df = spark.createDataFrame(
            [(i, [((i * 7 + j * 3) % 11) / 10.0 for j in range(8)])
             for i in range(60)],
            "vec_id long, embedding array<double>",
        )
        got = {r.vec_id: r.cell for r in ivf_assign(df, cents).collect()}
        # reference: pure-python sequential fold + first-min tie
        for r in df.collect():
            dists = []
            for c in cents:
                acc = 0.0
                for a, b in zip(r.embedding, c):
                    acc = acc + (a - b) * (a - b)
                dists.append(acc)
            assert got[r.vec_id] == dists.index(min(dists))


class TestChunkStoreAdvice:
    def test_empty_upsert_does_not_pin_sidecar(self, spark, tmp_path):
        """r14 ADVICE: an upsert of ZERO chunks into an empty store must
        not write the n_buckets sidecar — a later open with a different
        explicit n_buckets would hit the mismatch guard over a store
        holding no data."""
        from lovdata_pipeline_spark.schemas import ENRICHED_CHUNKS_SCHEMA
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

        root = str(tmp_path / "store")
        store = ChunkStore(spark, root, n_buckets=32)
        empty = spark.createDataFrame([], ENRICHED_CHUNKS_SCHEMA)
        store.upsert_chunks(empty)
        assert not os.path.exists(os.path.join(root, "_store_meta.json"))
        # a different bucket count must still open cleanly afterwards
        ChunkStore(spark, root, n_buckets=8)
