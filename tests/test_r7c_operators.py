"""Round-7c pins: Zipf slope fit, PMI collocations, integer-exact
PageRank over the k-NN graph, SCD2 change-history intervals, and the
curation-gate attrition funnel.

Each class pins SEMANTICS on hand-built fixtures (the driver's oracle
gate covers sf0.01 equality); partition-independence is asserted
wherever ranking or accumulation could leak order.
"""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F


def _ts(s):
    return datetime.datetime.fromisoformat(s)


class TestZipfSlope:
    def test_exact_powerlaw_recovers_slope(self, spark):
        """A corpus whose term frequencies are freq(r) = 1000·r^-1
        (exactly, by construction) must fit slope ≈ -1."""
        from lovdata_pipeline_spark.operators.corpstats import zipf_slope

        # term t_r repeated round(1000/r) times, one doc per term
        rows = []
        for r in range(1, 21):
            freq = round(1000 / r)
            rows.append((r, " ".join([f"t{r:02d}"] * freq), "s"))
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = zipf_slope(docs, top_r=100).collect()
        assert len(out) == 1
        assert out[0]["n_terms"] == 20
        assert abs(out[0]["zipf_slope"] - (-1.0)) < 0.01

    def test_partition_independent(self, spark):
        from lovdata_pipeline_spark.operators.corpstats import zipf_slope

        rows = [
            (i, f"alpha beta gamma delta t{i} t{i} common common common", f"s{i % 3}")
            for i in range(30)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        a = sorted(zipf_slope(docs).collect())
        b = sorted(zipf_slope(docs.repartition(7)).collect())
        assert a == b

    def test_single_term_group_yields_null_slope(self, spark):
        from lovdata_pipeline_spark.operators.corpstats import zipf_slope

        docs = spark.createDataFrame(
            [(1, "only only only", "mono")], "doc_id long, text string, source string"
        )
        row = zipf_slope(docs).collect()[0]
        assert row["n_terms"] == 1 and row["zipf_slope"] is None

    def test_top_r_cap_enforced(self, spark):
        from lovdata_pipeline_spark.operators.corpstats import zipf_slope

        docs = spark.createDataFrame(
            [(1, "a b", "s")], "doc_id long, text string, source string"
        )
        with pytest.raises(ValueError, match="top_r"):
            zipf_slope(docs, top_r=500)


class TestCollocationPMI:
    def test_fixed_pair_tops_independent_pair(self, spark):
        """'san francisco' always co-occurs (PMI high); 'the cat'
        co-occurs as often but both words are everywhere (PMI ~0)."""
        from lovdata_pipeline_spark.operators.corpstats import collocation_pmi

        rows = []
        for i in range(10):
            rows.append((i, "san francisco is the cat town the cat"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = collocation_pmi(docs, min_count=5, k=10).collect()
        by_pair = {(r.w1, r.w2): r.pmi for r in out}
        assert by_pair[("san", "francisco")] == max(by_pair.values())
        assert by_pair[("san", "francisco")] > by_pair[("the", "cat")]

    def test_pmi_value_exact(self, spark):
        """Hand-checked PMI: corpus 'a b' ×8 → c(a,b)=8, Tb=8,
        c(a)=c(b)=8, Tu=16 ⇒ PMI = ln(1/( (1/2)·(1/2) )) = ln 4."""
        from lovdata_pipeline_spark.operators.corpstats import collocation_pmi

        docs = spark.createDataFrame(
            [(i, "a b") for i in range(8)], "doc_id long, text string"
        )
        out = collocation_pmi(docs, min_count=5, k=10).collect()
        assert len(out) == 1
        assert out[0].n_pair == 8
        assert abs(out[0].pmi - math.log(4.0)) < 1e-6

    def test_min_count_prunes(self, spark):
        from lovdata_pipeline_spark.operators.corpstats import collocation_pmi

        docs = spark.createDataFrame(
            [(1, "rare pair"), (2, "a b"), (3, "a b"), (4, "a b"), (5, "a b"), (6, "a b")],
            "doc_id long, text string",
        )
        pairs = {(r.w1, r.w2) for r in collocation_pmi(docs, min_count=5).collect()}
        assert ("rare", "pair") not in pairs and ("a", "b") in pairs

    def test_partition_independent(self, spark):
        from lovdata_pipeline_spark.operators.corpstats import collocation_pmi

        rows = [(i, "x y z x y w q x y") for i in range(20)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        a = [tuple(r) for r in collocation_pmi(docs).collect()]
        b = [tuple(r) for r in collocation_pmi(docs.repartition(9)).collect()]
        assert a == b


class TestKnnEdges:
    def test_excludes_self_and_degree(self, spark):
        from lovdata_pipeline_spark.operators.graph import knn_edges

        vecs = spark.createDataFrame(
            [
                (1, [1.0, 0.0]),
                (2, [0.9, 0.1]),
                (3, [0.0, 1.0]),
                (4, [0.1, 0.9]),
                (5, [0.0, 0.0]),  # zero-norm: excluded both sides
            ],
            "vec_id long, embedding array<double>",
        )
        edges = knn_edges(vecs, k=2).collect()
        srcs = {r.src for r in edges}
        assert 5 not in srcs and all(r.dst != 5 for r in edges)
        assert all(r.src != r.dst for r in edges)
        from collections import Counter

        deg = Counter(r.src for r in edges)
        assert all(d == 2 for d in deg.values())
        # 1's nearest other node is 2 (cosine ~0.994)
        top = {r.src: r.dst for r in edges if r.rk == 1}
        assert top[1] == 2 and top[2] == 1 and top[3] == 4 and top[4] == 3

    def test_blocked_equals_exhaustive_and_block_invariant(self, spark):
        """The blocked BLAS candidate stage + exact re-score must equal
        the exhaustive exact scorer (same fold, full crossJoin) and be
        invariant to the block count — the candidate cut never reaches
        the output."""
        from pyspark.sql import functions as F

        from lovdata_pipeline_spark.operators.graph import knn_edges
        from lovdata_pipeline_spark.operators.sampling import top_k_per_group
        from lovdata_pipeline_spark.operators.similarity import (
            _as_double,
            _dot,
            _norm,
        )

        rows = [
            (i, [math.cos(0.37 * i + 0.1 * j) for j in range(8)])
            for i in range(40)
        ]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        a = (
            vecs.select(
                F.col("vec_id").alias("src"),
                _as_double(F.col("embedding")).alias("av"),
            )
            .withColumn("an", _norm(F.col("av")))
            .filter(F.col("an") > 0)
        )
        b = (
            vecs.select(
                F.col("vec_id").alias("dst"),
                _as_double(F.col("embedding")).alias("bv"),
            )
            .withColumn("bn", _norm(F.col("bv")))
            .filter(F.col("bn") > 0)
        )
        scored = (
            F.broadcast(a)
            .crossJoin(b)
            .filter(F.col("src") != F.col("dst"))
            .select(
                "src",
                "dst",
                F.round(
                    _dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn")), 6
                ).alias("score"),
            )
        )
        exhaustive = sorted(top_k_per_group(scored, 3, "src", "score", "dst").collect())
        for n_blocks in (1, 3, 8):
            got = sorted(knn_edges(vecs, k=3, n_blocks=n_blocks).collect())
            assert got == exhaustive, f"n_blocks={n_blocks} diverged"


class TestPagerankQuantized:
    def _ring_edges(self, spark, n=6):
        rows = [(i, (i + 1) % n) for i in range(n)]
        return spark.createDataFrame(rows, "src long, dst long")

    def test_symmetric_ring_is_uniform(self, spark):
        """On a directed ring every node has in/out degree 1, so the
        stationary (and every iterate's) distribution is uniform."""
        from lovdata_pipeline_spark.operators.graph import (
            RANK_SCALE,
            pagerank_quantized,
        )

        ranks = pagerank_quantized(self._ring_edges(spark), n_iter=3).collect()
        vals = {r.rank_q for r in ranks}
        assert len(vals) == 1
        # uniform mass base = SCALE // 6, preserved through iterations
        # modulo the deterministic div floors
        assert abs(next(iter(vals)) - RANK_SCALE // 6) <= 2

    def test_star_center_dominates(self, spark):
        from lovdata_pipeline_spark.operators.graph import pagerank_quantized

        # 5 leaves all point at node 0; node 0 points at node 1
        rows = [(i, 0) for i in range(1, 6)] + [(0, 1)]
        edges = spark.createDataFrame(rows, "src long, dst long")
        ranks = {r.node: r.rank_q for r in pagerank_quantized(edges).collect()}
        assert ranks[0] == max(ranks.values())
        assert ranks[0] > ranks[2]

    def test_partition_independent_bitexact(self, spark):
        from lovdata_pipeline_spark.operators.graph import pagerank_quantized

        rows = [(i, (i * 7 + 3) % 20) for i in range(20)] + [
            (i, (i * 11 + 1) % 20) for i in range(20)
        ]
        edges = spark.createDataFrame(
            [(a, b) for a, b in rows if a != b], "src long, dst long"
        )
        a = sorted(map(tuple, pagerank_quantized(edges, n_iter=4).collect()))
        b = sorted(
            map(tuple, pagerank_quantized(edges.repartition(13), n_iter=4).collect())
        )
        assert a == b

    def test_mass_approximately_conserved(self, spark):
        """Every node has out-edges here, so total mass shrinks only by
        the deterministic div floors: bounded by ~(n_nodes + 1) units
        per iteration, nowhere near a float-drift magnitude."""
        from lovdata_pipeline_spark.operators.graph import (
            RANK_SCALE,
            pagerank_quantized,
        )

        edges = self._ring_edges(spark, 10)
        total = sum(
            r.rank_q for r in pagerank_quantized(edges, n_iter=3).collect()
        )
        assert abs(total - RANK_SCALE) < 1000


class TestScd2Intervals:
    def _events(self, spark):
        rows = [
            # user 1: A A B A — consecutive As consolidate, the later A
            # run is a NEW interval
            (1, _ts("2024-01-01T00:00:00"), 10, "A"),
            (1, _ts("2024-01-01T01:00:00"), 11, "A"),
            (1, _ts("2024-01-01T02:00:00"), 12, "B"),
            (1, _ts("2024-01-01T03:00:00"), 13, "A"),
            # user 2: single event — one open interval
            (2, _ts("2024-01-01T00:30:00"), 20, "X"),
        ]
        return spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, event_type string"
        )

    def test_runs_consolidate_and_intervals_chain(self, spark):
        from lovdata_pipeline_spark.operators.incremental import scd2_intervals

        out = (
            scd2_intervals(
                self._events(spark),
                key_col="user_id",
                ts_col="ts",
                attr_col="event_type",
                tie_col="event_id",
            )
            .orderBy("user_id", "valid_from")
            .collect()
        )
        u1 = [r for r in out if r.user_id == 1]
        assert [r.event_type for r in u1] == ["A", "B", "A"]
        assert u1[0].n_events == 2 and u1[1].n_events == 1
        # intervals chain: each valid_to == next valid_from
        assert u1[0].valid_to == u1[1].valid_from
        assert u1[1].valid_to == u1[2].valid_from
        assert u1[2].valid_to is None and u1[2].is_current
        assert not u1[0].is_current
        u2 = [r for r in out if r.user_id == 2]
        assert len(u2) == 1 and u2[0].is_current and u2[0].n_events == 1

    def test_timestamp_tie_breaks_on_event_id(self, spark):
        from lovdata_pipeline_spark.operators.incremental import scd2_intervals

        t = _ts("2024-01-01T00:00:00")
        rows = [(1, t, 2, "B"), (1, t, 1, "A")]
        ev = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, event_type string"
        )
        out = (
            scd2_intervals(ev, "user_id", "ts", "event_type", "event_id")
            .orderBy("first_tie")
            .collect()
        )
        # event_id 1 (A) sorts first → A's interval opens the history
        assert [r.event_type for r in out] == ["A", "B"]
        assert out[0].valid_to == out[1].valid_from
        assert out[1].is_current

    def test_partition_independent(self, spark):
        from lovdata_pipeline_spark.operators.incremental import scd2_intervals

        ev = self._events(spark)
        a = sorted(
            map(tuple, scd2_intervals(ev, "user_id", "ts", "event_type", "event_id").collect())
        )
        b = sorted(
            map(
                tuple,
                scd2_intervals(
                    ev.repartition(5), "user_id", "ts", "event_type", "event_id"
                ).collect(),
            )
        )
        assert a == b


class TestFilterAttrition:
    def test_funnel_chains_and_is_monotone(self, spark, tmp_path):
        from lovdata_pipeline_spark.queries import filter_attrition_report

        import os

        # build a tiny documents.parquet with known gate outcomes
        d = str(tmp_path)
        rows = [
            (1, None, "s"),                         # fails has_text
            (2, "short text", "s"),                 # fails length band
            (3, " ".join(["word"] * 50), "s"),      # in band
            (4, " ".join(["token"] * 200), "s"),    # in band
        ]
        spark.createDataFrame(rows, "doc_id long, text string, source string").write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = filter_attrition_report(spark, d).collect()
        assert [r.stage for r in out] == ["has_text", "length_band", "quality", "gopher"]
        # n_in chains: stage k's n_in == stage k-1's n_out
        for prev, cur in zip(out, out[1:]):
            assert cur.n_in == prev.n_out
        assert out[0].n_in == 4 and out[0].n_out == 3  # NULL text dropped
        assert out[1].n_out == 2  # 'short text' dropped by the band
        for r in out:
            assert r.n_dropped == r.n_in - r.n_out
            assert 0.0 <= r.retention <= 1.0

    def test_empty_corpus_yields_zero_funnel(self, spark, tmp_path):
        """An empty documents table must report four all-zero stages
        (sum over empty is NULL without the coalesce), retention 0/0
        guarded to n_out/greatest(n_in,1)."""
        import os

        from lovdata_pipeline_spark.queries import filter_attrition_report

        d = str(tmp_path)
        spark.createDataFrame(
            [], "doc_id long, text string, source string"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        out = filter_attrition_report(spark, d).collect()
        assert [r.stage for r in out] == [
            "has_text", "length_band", "quality", "gopher",
        ]
        for r in out:
            assert r.n_in == 0 and r.n_out == 0 and r.n_dropped == 0
            assert r.retention == 0.0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_attr = st.sampled_from(["A", "B"])
_log = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 5), _attr),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(log=_log)
def test_scd2_intervals_partition_each_keys_history(spark, log):
    """Property on random event logs: per key, interval n_events sum to
    the key's event count, consecutive intervals chain
    (valid_to == next valid_from), the attribute CHANGES across every
    boundary, and exactly the last interval is open."""
    import datetime

    from lovdata_pipeline_spark.operators.incremental import scd2_intervals

    rows = [
        (key, datetime.datetime(2024, 1, 1 + ts_day), eid, attr)
        for eid, (key, ts_day, attr) in enumerate(log)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = scd2_intervals(ev, "user_id", "ts", "event_type", "event_id")
    by_key = {}
    for r in sorted(out.collect(), key=lambda r: (r.user_id, r.valid_from, r.first_tie)):
        by_key.setdefault(r.user_id, []).append(r)
    n_events_in = {}
    for key, _, _ in log:
        n_events_in[key] = n_events_in.get(key, 0) + 1
    for key, ivs in by_key.items():
        assert sum(r.n_events for r in ivs) == n_events_in[key]
        assert sum(1 for r in ivs if r.is_current) == 1 and ivs[-1].is_current
        for prev, cur in zip(ivs, ivs[1:]):
            assert prev.valid_to == cur.valid_from
            assert prev.event_type != cur.event_type


def test_scd2_intervals_tied_timestamps_pinned(spark):
    """Pinned (non-hypothesis) regression for the r10 tied-timestamp
    bug: ``first_tie`` was ``min(tie)`` over the island instead of the
    tie of the island's chronologically FIRST event, so an island whose
    first event has a large id could inherit a smaller id from a LATER
    tied event and sort before an earlier island — breaking valid_to
    chains and putting is_current on the wrong interval.

    Events (eid, ts_day, attr): (0,0,B) (1,1,B) (2,0,A) (3,0,B).
    (ts, eid) order: B@t0, A@t0, B@t0 — the final B-island spans
    {eid3@t0, eid1@t1} and must get first_tie=3 (NOT min(3,1)=1), so
    the island order is B(ft0) → A(ft2) → B(ft3, open). The broken
    code sorted the final B-island (ft=1) BEFORE the A-island and left
    A as is_current although the log's latest state is B.

    Pinned deterministically because the hypothesis DB is git-ignored:
    found counterexamples die with the session otherwise.
    """
    import datetime

    from lovdata_pipeline_spark.operators.incremental import scd2_intervals

    log = [(0, 0, "B"), (0, 1, "B"), (0, 0, "A"), (0, 0, "B")]
    rows = [
        (key, datetime.datetime(2024, 1, 1 + ts_day), eid, attr)
        for eid, (key, ts_day, attr) in enumerate(log)
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = sorted(
        scd2_intervals(ev, "user_id", "ts", "event_type", "event_id").collect(),
        key=lambda r: (r.valid_from, r.first_tie),
    )
    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 1, 2)
    assert [
        (r.event_type, r.valid_from, r.valid_to, r.first_tie, r.n_events, r.is_current)
        for r in out
    ] == [
        ("B", t0, t0, 0, 1, False),
        ("A", t0, t0, 2, 1, False),
        ("B", t0, None, 3, 2, True),
    ]


_ctok = st.sampled_from(["x", "y", "z", "w"])
_ctext = st.lists(_ctok, min_size=2, max_size=8).map(" ".join)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(_ctext, min_size=2, max_size=6))
def test_collocation_pmi_matches_python(spark, texts):
    """Property: PMI values and the min_count cut match an exact python
    computation on random small-alphabet corpora."""
    import math
    from collections import Counter

    from lovdata_pipeline_spark.operators.corpstats import collocation_pmi

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    uni = Counter(w for t in texts for w in t.split())
    big = Counter(
        (ws[i], ws[i + 1])
        for t in texts
        for ws in [t.split()]
        for i in range(len(ws) - 1)
    )
    tu, tb = sum(uni.values()), sum(big.values())
    want = {
        p: round(
            math.log((c / tb) / ((uni[p[0]] / tu) * (uni[p[1]] / tu))), 6
        )
        for p, c in big.items()
        if c >= 2
    }
    got = {
        (r.w1, r.w2): r.pmi for r in collocation_pmi(docs, min_count=2, k=100).collect()
    }
    # alphabet is 4 tokens → ≤16 possible pairs, so k=100 never cuts
    assert got == want
