"""Regression tests for the r10 ADVICE items fixed in round 11.

- asof_join: MapType carried columns no longer break the tiebreak
  ordering; string/string time columns compare numerically again.
- ChunkStore: legacy (pre-sidecar) non-empty stores get the sidecar
  pinned on OPEN, so a later wrong-modulus open fails loud.
- interval_join: a right column colliding with an existing ``r_<c>``
  raises instead of silently duplicating column names.
"""

import datetime
import json
import os

import pytest


class TestAsofAdviceFixes:
    def test_map_typed_carried_column_is_joinable(self, spark):
        """r10 ADVICE: orderBy on the full right struct raised
        AnalysisException when a carried column is non-orderable
        (MapType). The tiebreak now falls back to to_json."""
        from lovdata_pipeline_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10), (1, 20)], "k int, t int"
        )
        right = spark.createDataFrame(
            [(1, 5, {"a": 1}), (1, 15, {"b": 2})],
            "k int, rt int, payload map<string,int>",
        )
        out = {
            r.t: (r.rt_asof, dict(r.payload_asof))
            for r in asof_join(left, right, "k", "t", "rt").collect()
        }
        assert out == {10: (5, {"a": 1}), 20: (15, {"b": 2})}

    def test_map_tiebreak_is_partition_independent(self, spark):
        """Equal-time right rows with map payloads must still carry a
        deterministic winner across physical layouts."""
        from lovdata_pipeline_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 10)], "k int, t int")
        right = spark.createDataFrame(
            [(1, 5, {"a": 1}), (1, 5, {"z": 9})],
            "k int, rt int, payload map<string,int>",
        )
        picks = set()
        for nparts in (1, 2, 4):
            rows = asof_join(
                left, right.repartition(nparts), "k", "t", "rt"
            ).collect()
            assert len(rows) == 1
            picks.add(json.dumps(dict(rows[0].payload_asof), sort_keys=True))
        assert len(picks) == 1

    def test_string_time_columns_compare_numerically(self, spark):
        """r10 ADVICE: string/string NUMERIC time columns must order
        numerically ("9" before "10"), not lexicographically."""
        from lovdata_pipeline_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, "10"), (1, "2")], "k int, t string")
        right = spark.createDataFrame(
            [(1, "9", "early"), (1, "10", "exact")], "k int, rt string, v string"
        )
        rows = {r.t: r.v_asof for r in asof_join(left, right, "k", "t", "rt").collect()}
        # lexicographically "9" > "10" would leave t="10" unmatched and
        # t="2" matched to "10"; numerically "10" matches "10" exactly
        # and "2" precedes both rights (no match)
        assert rows == {"10": "exact", "2": None}

    def test_iso_string_time_columns_stay_chronological(self, spark):
        """r11 review: an unconditional cast("double") NULLed out
        NON-numeric time strings (ISO dates) and silently matched every
        left row to the max-struct right row — ISO strings must keep
        their (lexicographic == chronological) ordering."""
        from lovdata_pipeline_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, "2024-03-01")], "k int, t string")
        right = spark.createDataFrame(
            [(1, "2024-01-01", "jan"), (1, "2024-06-01", "jun")],
            "k int, rt string, v string",
        )
        rows = asof_join(left, right, "k", "t", "rt").collect()
        assert len(rows) == 1 and rows[0].v_asof == "jan"  # not jun!

    def test_null_string_left_time_matches_nothing(self, spark):
        from lovdata_pipeline_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, None)], "k int, t string")
        right = spark.createDataFrame(
            [(1, "2024-01-01", "jan")], "k int, rt string, v string"
        )
        rows = asof_join(left, right, "k", "t", "rt").collect()
        assert len(rows) == 1 and rows[0].v_asof is None


class TestChunkStoreLegacySidecar:
    def _legacy_store(self, spark, tmp, n_docs=16):
        """Build a store, then delete its sidecar to simulate pre-r10.
        16 distinct doc ids fill all 4 bucket directories (asserted),
        so explicit re-opens can fully CONFIRM the modulus and pin."""
        from lovdata_pipeline_spark.chunking import chunk_documents_df
        from lovdata_pipeline_spark.config import ChunkParams, PipelineConfig
        from lovdata_pipeline_spark.embedding import embed_chunks_df
        from lovdata_pipeline_spark.schemas import DOCUMENTS_SCHEMA
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
        from tests import fixtures

        cfg = PipelineConfig(chunk=ChunkParams(100, 500, 300, 0.15), embedding_dims=8)
        docs = spark.createDataFrame(
            [
                (f"d{i}", "ds", "p", fixtures.simple_law(), f"h{i}", "added")
                for i in range(n_docs)
            ],
            DOCUMENTS_SCHEMA,
        )
        store = ChunkStore(spark, tmp, n_buckets=4)
        store.upsert_chunks(embed_chunks_df(chunk_documents_df(docs, cfg.chunk), dims=8))
        if n_docs >= 16:
            dirs = {p for p in os.listdir(tmp) if p.startswith("bucket=")}
            assert dirs == {f"bucket={b}" for b in range(4)}, dirs
        os.remove(os.path.join(tmp, "_store_meta.json"))
        return store

    def test_sidecar_pinned_on_open(self, spark, tmp_path):
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

        tmp = str(tmp_path)
        self._legacy_store(spark, tmp)
        ChunkStore(spark, tmp, n_buckets=4)  # open only, no mutation
        meta = os.path.join(tmp, "_store_meta.json")
        assert os.path.exists(meta)
        assert json.load(open(meta))["n_buckets"] == 4
        # the pinned sidecar now rejects a wrong-modulus reopen
        with pytest.raises(ValueError, match="n_buckets=4"):
            ChunkStore(spark, tmp, n_buckets=32)

    def test_larger_wrong_modulus_fails_the_data_check(self, spark, tmp_path):
        """r11 review + r12 (r11 ADVICE): a legacy 4-bucket store opened
        with n_buckets=8 passes the max-dir check (necessary, not
        sufficient). The r11 fix merely skipped the pin; the r12
        data-confirmed pin goes further — some stored document hashes
        into a different bucket under modulus 8, so the open itself
        fails loud (reads under the wrong modulus would silently
        mis-prune), and nothing is pinned."""
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

        tmp = str(tmp_path)
        self._legacy_store(spark, tmp)
        with pytest.raises(ValueError, match="do not hash into"):
            ChunkStore(spark, tmp, n_buckets=8)
        assert not os.path.exists(os.path.join(tmp, "_store_meta.json"))
        # the CORRECT open passes the data check and pins
        ChunkStore(spark, tmp, n_buckets=4)
        assert json.load(open(os.path.join(tmp, "_store_meta.json")))["n_buckets"] == 4

    def test_sparse_store_pins_when_data_confirms(self, spark, tmp_path):
        """r12 (r11 ADVICE): the pin is confirmed by data, not by
        directory names — a genuinely sparse store (modulus 8, only a
        few buckets populated) opened with the CORRECT n_buckets=8 now
        pins immediately instead of waiting for every directory, while
        the ADVICE's poison case (populated dirs exactly 0..n-1 under a
        larger modulus) is caught by the same per-document check in
        test_larger_wrong_modulus_fails_the_data_check."""
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

        tmp = str(tmp_path)
        # build an 8-bucket store with few docs -> genuinely sparse dirs
        from lovdata_pipeline_spark.chunking import chunk_documents_df
        from lovdata_pipeline_spark.config import ChunkParams, PipelineConfig
        from lovdata_pipeline_spark.embedding import embed_chunks_df
        from lovdata_pipeline_spark.schemas import DOCUMENTS_SCHEMA
        from tests import fixtures

        cfg = PipelineConfig(chunk=ChunkParams(100, 500, 300, 0.15), embedding_dims=8)
        docs = spark.createDataFrame(
            [("dA", "ds", "p", fixtures.simple_law(), "hA", "added"),
             ("dB", "ds", "p", fixtures.simple_law(), "hB", "added")],
            DOCUMENTS_SCHEMA,
        )
        store = ChunkStore(spark, tmp, n_buckets=8)
        store.upsert_chunks(embed_chunks_df(chunk_documents_df(docs, cfg.chunk), dims=8))
        dirs = [p for p in os.listdir(tmp) if p.startswith("bucket=")]
        assert 0 < len(dirs) < 8, dirs  # genuinely sparse
        os.remove(os.path.join(tmp, "_store_meta.json"))
        ChunkStore(spark, tmp, n_buckets=8)  # open only, no mutation
        assert json.load(open(os.path.join(tmp, "_store_meta.json")))["n_buckets"] == 8

    def test_data_confirm_scan_runs_once_per_process(self, spark, monkeypatch, tmp_path):
        """r12 review: when the sidecar cannot persist (read-only mount,
        EROFS/EACCES swallowed), every open used to repeat the full
        (document_id, bucket) scan — minutes per open on a large store.
        The process-level memo keeps it at one scan: a second legacy
        open of the same (root, n_buckets) must not touch the data."""
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

        tmp = str(tmp_path)
        self._legacy_store(spark, tmp)
        ChunkStore(spark, tmp, n_buckets=4)  # scan + pin
        key = (str(os.path.realpath(tmp)), 4)
        assert key in ChunkStore._data_confirmed
        # simulate the unwritable-sidecar case: pin gone again, and any
        # data read during open would blow up — the memo must skip it
        os.remove(os.path.join(tmp, "_store_meta.json"))
        monkeypatch.setattr(
            ChunkStore,
            "read",
            lambda self: (_ for _ in ()).throw(AssertionError("rescanned")),
        )
        store = ChunkStore(spark, tmp, n_buckets=4)  # no rescan
        assert store.n_buckets == 4
        # the (cheap) sidecar write still re-pins on the memoized path
        assert json.load(open(os.path.join(tmp, "_store_meta.json")))["n_buckets"] == 4

    def test_open_with_modulus_smaller_than_layout_fails(self, spark, tmp_path):
        """A legacy store whose directories prove a larger modulus must
        refuse the open instead of pinning a wrong sidecar."""
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

        tmp = str(tmp_path)
        self._legacy_store(spark, tmp)
        os.makedirs(os.path.join(tmp, "bucket=17"), exist_ok=True)
        with pytest.raises(ValueError, match="bucket directories"):
            ChunkStore(spark, tmp, n_buckets=4)

    def test_empty_dir_open_writes_no_sidecar(self, spark, tmp_path):
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

        tmp = str(tmp_path)
        ChunkStore(spark, tmp)
        assert not os.path.exists(os.path.join(tmp, "_store_meta.json"))

    def test_default_open_of_legacy_store_fails_loud(self, spark, tmp_path):
        """r11 review: the bucket dirs cannot CONFIRM a modulus (max
        dir < n is necessary, not sufficient), so a default open of a
        legacy store must not pin 32 onto, say, a 4-bucket layout —
        and even bucket-pruned reads are wrong under a guessed
        modulus. Fail loud instead."""
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore

        tmp = str(tmp_path)
        self._legacy_store(spark, tmp)
        with pytest.raises(ValueError, match="cannot be inferred"):
            ChunkStore(spark, tmp)  # default n_buckets=None
        # sidecar must NOT have been written by the failed open
        assert not os.path.exists(os.path.join(tmp, "_store_meta.json"))


class TestRemoveSpansDuplicateRanges:
    def test_duplicate_ranges_merge_to_one_region(self, spark):
        """r11 sf1 sweep finding: the same doc_b range arriving from
        SEVERAL doc_a partners is one removal — duplicate (s, e) rows
        must not inflate n_cut_regions or n_chars_removed, and (the
        oracle side of the same fix) must not make the interval-merge
        window chain tie-ambiguous."""
        from lovdata_pipeline_spark.operators.dedup import (
            remove_duplicated_spans,
        )

        docs = spark.createDataFrame(
            [(1, "a" * 50), (2, "b" * 50)], "doc_id long, text string"
        )
        spans = spark.createDataFrame(
            [  # doc 1's range [11,20] reported by two partners + an
                # overlapping [15,25]; doc 2 untouched
                (100, 1, 0, 9, 11, 20),
                (200, 1, 0, 9, 11, 20),
                (300, 1, 0, 9, 15, 25),
            ],
            "doc_a long, doc_b long, a_start long, a_end long, "
            "b_start long, b_end long",
        )
        out = {r.doc_id: r for r in remove_duplicated_spans(docs, spans).collect()}
        assert out[1].n_cut_regions == 1
        assert out[1].n_chars_removed == 15  # [11,25] merged once
        assert out[2].n_cut_regions == 0 and out[2].n_chars_removed == 0
        import hashlib

        expect_clean = "a" * 10 + "a" * 25  # chars 1-10 + 26-50
        assert out[1].clean_hash == hashlib.md5(expect_clean.encode()).hexdigest()


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_t_or_null = st.one_of(st.none(), st.integers(0, 4))
_left_rows = st.lists(
    st.tuples(st.integers(0, 2), _t_or_null), min_size=1, max_size=8
)
_right_rows = st.lists(
    st.tuples(st.integers(0, 2), _t_or_null, st.integers(0, 3)),
    min_size=0,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_left_rows, right=_right_rows)
def test_asof_join_matches_python_oracle(spark, left, right):
    """Property (r10 VERDICT Next #8): asof_join vs an exact python
    oracle over random logs with tied and NULL timestamps — ties and
    NULLs are where this family hides bugs (the scd2 episode). Oracle
    semantics: per left row, the right row with the greatest
    (rt, payload) among rt ≤ lt in the same key group; NULL right
    times match nothing; NULL left times get no match."""
    from lovdata_pipeline_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)],
        "lid long, k long, t long",
    )
    rdf = spark.createDataFrame(right, "k long, rt long, v long")

    def _key(rt, v):
        return (rt, (v is not None, v))

    expected = {}
    for i, (k, t) in enumerate(left):
        cands = [
            (rt, v) for (rk, rt, v) in right
            if rk == k and rt is not None and t is not None and rt <= t
        ]
        expected[i] = max(cands, key=lambda c: _key(*c)) if cands else (None, None)

    out = asof_join(ldf, rdf, "k", "t", "rt").collect()
    assert len(out) == len(left)
    got = {r.lid: (r.rt_asof, r.v_asof) for r in out}
    assert got == expected


class TestIntervalJoinRenameGuard:
    def test_existing_target_name_gets_fresh_suffix(self, spark):
        """r10 ADVICE: colliding column c with an existing r_<c> on the
        right frame used to silently produce duplicate names — the
        rename now walks to r2_<c>."""
        from lovdata_pipeline_spark.streaming.windows import interval_join

        t0 = datetime.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(1, t0, "x")], "user_id int, ts timestamp, value string"
        )
        right = spark.createDataFrame(
            [(1, t0, "y", "z")],
            "user_id int, ts timestamp, value string, r_value string",
        )
        out = interval_join(left, right)
        assert sorted(c for c in out.columns if c.endswith("value")) == [
            "r2_value", "r_value", "value",
        ]
        rows = out.collect()
        assert len(rows) == 1
        assert (rows[0].value, rows[0].r_value, rows[0].r2_value) == ("x", "z", "y")

    def test_chained_interval_join_binds_keys_correctly(self, spark):
        """r11 review: a left frame already carrying r_<on> (the output
        of a previous interval_join) made the collision loop rename the
        right JOIN KEY to r_r_<on>, and the string-bound join condition
        then compared two LEFT columns — a silently wrong near-cross
        join. The key now renames to a fresh r2_<on> and the condition
        binds frame-qualified, so chaining works and keys stay keyed."""
        from lovdata_pipeline_spark.streaming.windows import interval_join

        t0 = datetime.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            # r_user_id deliberately DIFFERS from user_id: the broken
            # binding (user_id == r_user_id on the left frame) would
            # drop this row; the correct key binding keeps it
            [(1, t0, "x", 99)],
            "user_id int, ts timestamp, value string, r_user_id int",
        )
        right = spark.createDataFrame(
            [(1, t0, "y"), (2, t0, "z")],
            "user_id int, ts timestamp, value string",
        )
        out = interval_join(left, right)
        rows = out.collect()
        assert len(rows) == 1  # joined to right user 1 only, not user 2
        assert rows[0].r_user_id == 99  # left's own column untouched
        assert rows[0].r2_user_id == 1  # right key under the fresh name
        assert rows[0].r_value == "y"  # plain collision keeps r_ prefix

    def test_plain_collision_still_renamed(self, spark):
        from lovdata_pipeline_spark.streaming.windows import interval_join

        t0 = datetime.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(1, t0, "x")], "user_id int, ts timestamp, value string"
        )
        right = spark.createDataFrame(
            [(1, t0, "y")], "user_id int, ts timestamp, value string"
        )
        out = interval_join(left, right)
        assert out.columns.count("r_value") == 1
        rows = out.collect()
        assert len(rows) == 1 and rows[0].value == "x" and rows[0].r_value == "y"
