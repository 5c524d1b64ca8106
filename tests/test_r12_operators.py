"""Round-12 pins: the HDR log-histogram quantile sketch (the QUANTILE
member completing the CMS/HLL/Bloom mergeable family) and the z-order
(Morton) multi-dimensional layout with stats-rectangle pruning.

Each class pins SEMANTICS on hand-built fixtures plus property draws
(the driver's oracle gate covers sf0.01 equality); partition
independence is asserted wherever an accumulation could leak order,
and the persisted z-order form's PartitionFilters pruning is
plan-asserted — the IVF-index treatment.
"""

from __future__ import annotations

import math
import os

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

SUB_BITS = 8
HALF = 1 << (SUB_BITS - 1)


def _hdr_exact(values, p):
    """Rank value at ceil(n*p/100), 1-based — the operator's rank rule."""
    v = sorted(values)
    return v[-(-len(v) * p // 100) - 1]


class TestHdrQuantiles:
    def _frame(self, spark, values):
        return spark.createDataFrame([("g", int(v)) for v in values], "g string, v long")

    def _est(self, spark, values, percents=(50, 90, 99)):
        from lovdata_pipeline_spark.operators.sketches import (
            hdr_buckets,
            hdr_quantiles,
        )

        regs = hdr_buckets(self._frame(spark, values), "v", "g")
        [row] = hdr_quantiles(regs, "g", percents=percents).collect()
        return row

    def test_small_values_are_exact(self, spark):
        """b=0 range: every value below 2^sub_bits gets its own bucket,
        so the 'estimate' is the exact rank value."""
        vals = [3, 7, 7, 12, 99, 200, 255, 0, 1]
        row = self._est(spark, vals)
        for p in (50, 90, 99):
            assert row[f"p{p}"] == _hdr_exact(vals, p)

    def test_upper_bound_contract(self, spark):
        """est >= exact and est <= exact*(1 + 2^-(sub_bits-1)) — the
        HdrHistogram precision contract, on a wide-magnitude fixture."""
        vals = [5, 130, 1000, 12345, 999999, 2**40 + 17, 2**52 + 12345, 77, 77]
        row = self._est(spark, vals)
        for p in (50, 90, 99):
            exact = _hdr_exact(vals, p)
            assert row[f"p{p}"] >= exact
            assert row[f"p{p}"] <= exact * (1 + 1 / HALF)

    @settings(max_examples=30, deadline=None)
    @given(
        values=st.lists(
            st.integers(min_value=0, max_value=2**55),
            min_size=1,
            max_size=60,
        ).flatmap(
            # plant duplicates: append a resample of the list to itself
            lambda xs: st.lists(st.sampled_from(xs), max_size=20).map(lambda d: xs + d)
        )
    )
    def test_contract_property(self, spark, values):
        """Property form of the contract over random draws with planted
        duplicates (the r11/r12 tie-class discipline)."""
        row = self._est(spark, values)
        for p in (50, 90, 99):
            exact = _hdr_exact(values, p)
            assert row[f"p{p}"] >= exact
            assert row[f"p{p}"] <= exact * (1 + 1 / HALF) + 1  # +1: exact=0 edge

    def test_merge_equals_full(self, spark):
        from lovdata_pipeline_spark.operators.sketches import hdr_buckets, hdr_merge

        vals = [1, 5, 300, 300, 40000, 2**33, 7, 7, 7]
        full = hdr_buckets(self._frame(spark, vals), "v", "g")
        a = hdr_buckets(self._frame(spark, vals[:4]), "v", "g")
        b = hdr_buckets(self._frame(spark, vals[4:]), "v", "g")
        merged = hdr_merge([a, b], "g")
        assert merged.exceptAll(full).count() == 0
        assert full.exceptAll(merged).count() == 0

    def test_partition_independence(self, spark):
        from lovdata_pipeline_spark.operators.sketches import hdr_buckets

        df = self._frame(spark, [3, 900, 900, 2**41, 17, 255, 256, 257])
        one = sorted(hdr_buckets(df.repartition(1), "v", "g").collect())
        many = sorted(hdr_buckets(df.repartition(13), "v", "g").collect())
        assert one == many

    def test_negative_value_raises(self, spark):
        import pytest
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkRuntimeError

        from lovdata_pipeline_spark.operators.sketches import hdr_buckets

        df = self._frame(spark, [1, -2])
        with pytest.raises((Py4JJavaError, PySparkRuntimeError, Exception)):
            hdr_buckets(df, "v", "g").collect()

    def test_graded_row_is_nonvacuous(self, spark):
        """The sf0.01 graded row must exercise GENUINE approximation
        (some rel_err > 0 — a collision-free grade would be vacuous)
        while every estimate honors the contract."""
        from lovdata_pipeline_spark.queries import hdr_quantile_order_totals

        rows = hdr_quantile_order_totals(spark, "/root/testdata/sf0.001").collect()
        assert rows
        assert any(
            r[f"rel_err_p{p}"] > 0 for r in rows for p in (50, 90, 99)
        ), "sketch never approximated — vacuous grade"
        for r in rows:
            for p in (50, 90, 99):
                assert r[f"p{p}_est"] >= r[f"p{p}_exact"]
                assert r[f"rel_err_p{p}"] <= 1 / HALF


def _spread_py(v):
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        v = (v | (v << shift)) & mask
    return v


class TestZorderLayout:
    def test_interleave_matches_python_replica(self, spark):
        """The magic-mask spread chain against an independent python
        replica over boundary values — bit-level parity."""
        from lovdata_pipeline_spark.operators.layout import _spread_bits16

        vals = [0, 1, 2, 255, 256, 0x5555, 0xAAAA, 0xFFFF]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        got = {
            r["v"]: r["s"]
            for r in df.select("v", _spread_bits16(F.col("v")).alias("s")).collect()
        }
        for v in vals:
            assert got[v] == _spread_py(v)

    def test_zvalue_is_invertible(self, spark):
        """De-interleaving even/odd bits of zvalue recovers (qx, qy) —
        the curve loses nothing."""
        from lovdata_pipeline_spark.operators.layout import zorder_frame

        rows = [(i, (i * 2654435761) % 50000, ((i * 40503) % 70000) - 1000) for i in range(200)]
        df = spark.createDataFrame(rows, "id long, x long, y long")
        zf = zorder_frame(df, "x", "y", n_buckets=64)
        for r in zf.select("qx", "qy", "zvalue").collect():
            z = r["zvalue"]
            qx = qy = 0
            for i in range(16):
                qx |= ((z >> (2 * i)) & 1) << i
                qy |= ((z >> (2 * i + 1)) & 1) << i
            assert (qx, qy) == (r["qx"], r["qy"])

    def test_partition_independence(self, spark):
        from lovdata_pipeline_spark.operators.layout import zorder_frame

        rows = [(i, i * 37 % 1000, i * 91 % 5000) for i in range(500)]
        df = spark.createDataFrame(rows, "id long, x long, y long")
        one = sorted(zorder_frame(df.repartition(1), "x", "y").select("id", "zvalue", "zbucket").collect())
        many = sorted(zorder_frame(df.repartition(11), "x", "y").select("id", "zvalue", "zbucket").collect())
        assert one == many

    def test_n_buckets_must_be_power_of_two(self, spark):
        import pytest

        from lovdata_pipeline_spark.operators.layout import zorder_frame

        df = spark.createDataFrame([(1, 1, 1)], "id long, x long, y long")
        with pytest.raises(ValueError, match="power of two"):
            zorder_frame(df, "x", "y", n_buckets=48)

    def test_oversized_dimension_range_fails_loud(self, spark):
        """A dimension range >= 2^46 would overflow the quantize
        product and silently scramble the curve — the guard raises
        instead (the chunk-store wrong-modulus doctrine)."""
        import pytest

        from lovdata_pipeline_spark.operators.layout import zorder_frame

        df = spark.createDataFrame(
            [(0, 0, 0), (1, 1 << 50, 1)], "id long, x long, y long"
        )
        with pytest.raises(Exception, match="zorder: dimension range"):
            zorder_frame(df, "x", "y").collect()

    def test_persisted_index_prunes_partitions(self, spark, tmp_path):
        """The IVF-index treatment for the layout: pruned scan equals
        the full-scan filter, the plan shows PartitionFilters on
        zbucket, and the candidate set is a strict minority of buckets
        (z-locality) — Delta data-skipping, mechanically asserted."""
        import json

        from lovdata_pipeline_spark.operators.layout import (
            zorder_box_scan,
            zorder_frame,
            zorder_write_index,
        )

        ev = (
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            .select(
                "event_id",
                "user_id",
                F.floor(F.col("value") * 100).cast("long").alias("cents"),
            )
        )
        idx = str(tmp_path)
        zorder_write_index(ev, idx, "user_id", "cents", n_buckets=64)
        b = 1 << 16
        box = (3 * b // 8, 5 * b // 8 - 1, 3 * b // 8, 5 * b // 8 - 1)
        pruned = zorder_box_scan(spark, idx, *box)
        zf = zorder_frame(ev, "user_id", "cents", n_buckets=64)
        full = zf.where(
            (F.col("qx") >= box[0]) & (F.col("qx") <= box[1])
            & (F.col("qy") >= box[2]) & (F.col("qy") <= box[3])
        )
        got = sorted(r["event_id"] for r in pruned.select("event_id").collect())
        want = sorted(r["event_id"] for r in full.select("event_id").collect())
        assert got == want and got, "pruned scan diverged from full filter"
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "zbucket" in plan
        sc = json.load(open(os.path.join(idx, "_zorder_params.json")))
        cands = [
            bk
            for bk, s in sc["buckets"].items()
            if s["minqx"] <= box[1] and s["maxqx"] >= box[0]
            and s["minqy"] <= box[3] and s["maxqy"] >= box[2]
        ]
        assert 0 < len(cands) < len(sc["buckets"]) / 2, (
            f"z-locality lost: {len(cands)}/{len(sc['buckets'])} candidates"
        )

    def test_version_gate(self, spark, tmp_path):
        import json

        import pytest

        from lovdata_pipeline_spark.operators.layout import (
            _SIDECAR,
            zorder_box_scan,
            zorder_write_index,
        )

        ev = spark.createDataFrame(
            [(i, i % 50, i % 77) for i in range(300)], "event_id long, x long, y long"
        )
        idx = str(tmp_path / "zv")
        zorder_write_index(ev, idx, "x", "y", n_buckets=8)
        sc = json.load(open(os.path.join(idx, _SIDECAR)))
        sc["version"] = "zorder-v999"
        json.dump(sc, open(os.path.join(idx, _SIDECAR), "w"))
        with pytest.raises(ValueError, match="unknown version"):
            zorder_box_scan(spark, idx, 0, 1, 0, 1)

    def test_pruning_soundness_in_graded_row(self, spark):
        """Every box row lives in a candidate bucket: the pruning
        decision never loses data (the correctness half of skipping)."""
        from lovdata_pipeline_spark.queries import zorder_box_prune_events

        rows = zorder_box_prune_events(spark, "/root/testdata/sf0.001").collect()
        assert rows
        assert all(r["n_rows_in_box"] == 0 for r in rows if not r["candidate"])
        assert any(not r["candidate"] for r in rows), "box pruned nothing — vacuous"


class TestR12Cli:
    def test_sketch_hdr_cli(self, spark, tmp_path, capsys):
        import json

        from lovdata_pipeline_spark.cli import main

        p = tmp_path / "vals"
        spark.createDataFrame(
            [("a", v) for v in (1, 5, 130, 1000, 12345, 999999)]
            + [("b", v) for v in (7, 7, 300)],
            "g string, v long",
        ).write.parquet(str(p))
        rc = main(
            [
                "sketch", "--mode", "hdr", "--input", str(p),
                "--value-col", "v", "--group-col", "g", "--percents", "50,99",
            ]
        )
        assert rc == 0
        rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
        by_g = {r["g"]: r for r in rows}
        assert by_g["a"]["n"] == 6 and by_g["b"]["n"] == 3
        # b's p50 (7) sits in the exact b=0 range; its p99 (300) is one
        # log2 bucket up — inclusive upper bound ((150+1)<<1)-1 = 301
        assert by_g["b"]["p50"] == 7 and by_g["b"]["p99"] == 301
        # contract on a's p99
        assert 999999 <= by_g["a"]["p99"] <= 999999 * (1 + 1 / HALF)

    def test_sketch_hdr_cli_arg_validation(self, spark, tmp_path, capsys):
        from lovdata_pipeline_spark.cli import main

        p = tmp_path / "vals2"
        spark.createDataFrame([("a", 1)], "g string, v long").write.parquet(str(p))
        assert main(["sketch", "--mode", "hdr", "--input", str(p)]) == 2
        assert (
            main(
                ["sketch", "--mode", "hdr", "--input", str(p),
                 "--value-col", "v", "--percents", "0,50"]
            )
            == 2
        )

    def test_layout_cli_roundtrip(self, spark, tmp_path, capsys):
        import json

        from lovdata_pipeline_spark.cli import main

        p = tmp_path / "pts"
        spark.createDataFrame(
            [(i, i * 37 % 1000, i * 91 % 5000) for i in range(400)],
            "id long, x long, y long",
        ).write.parquet(str(p))
        idx = tmp_path / "zidx"
        rc = main(
            [
                "layout", "--input", str(p), "--x-col", "x", "--y-col", "y",
                "--output", str(idx), "--n-buckets", "16",
                "--box", "0,65535,0,65535",
            ]
        )
        assert rc == 0
        lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
        assert lines[0]["status"] == "written"
        # whole-domain box: every bucket is a candidate, every row matches
        assert lines[1]["rows"] == 400
        assert lines[1]["buckets_scanned"] == lines[1]["buckets_total"]
        # a narrow corner box prunes
        rc = main(["layout", "--index", str(idx), "--box", "0,100,0,100"])
        assert rc == 0
        nar = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert nar["buckets_scanned"] < nar["buckets_total"]

    def test_layout_cli_arg_validation(self, capsys):
        from lovdata_pipeline_spark.cli import main

        assert main(["layout"]) == 2
        assert main(["layout", "--output", "/tmp/x"]) == 2
