"""Plan-quality regression gate: pushdown, pruning, broadcast, and
no-accidental-cartesian assertions over the whole query registry."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))


def test_all_plans_clean(spark):
    import plancheck

    problems = plancheck.audit(spark, "/root/testdata/sf0.001")
    assert not problems, "\n".join(problems)


def test_spread_if_narrow_is_conditional(spark, tmp_path):
    """spread_if_narrow must add an Exchange ONLY for the shape it
    exists for — a file-backed input with fewer files than cores — and
    must never probe ``.rdd`` (r14: the old probe materialized AQE
    stages on derived inputs, re-running upstream compute). A
    corpus-scale table (files >= cores) and non-file inputs are
    untouched; an input that already carries a Repartition is not
    re-spread (composed operators would otherwise stack one Exchange
    per call)."""
    from lovdata_pipeline_spark.operators.skew import spread_if_narrow

    cores = spark.sparkContext.defaultParallelism

    # non-file input (in-memory range): left alone
    mem = spark.range(1000).coalesce(1)
    assert spread_if_narrow(mem) is mem

    # single-file parquet: spread to cores
    one = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(one)
    narrow = spark.read.parquet(one)
    spread = spread_if_narrow(narrow)
    assert spread is not narrow
    assert spread.rdd.getNumPartitions() == cores

    # already-spread input: no second Exchange stacked on top
    again = spread_if_narrow(spread.select("id"))
    assert (
        again._jdf.queryExecution().logical().toString().count("Repartition")
        == 1
    )

    # many-files parquet (>= cores): untouched — corpus-scale no-op
    many = str(tmp_path / "many")
    spark.range(1000).repartition(cores + 4).write.parquet(many)
    wide = spark.read.parquet(many)
    assert spread_if_narrow(wide) is wide
