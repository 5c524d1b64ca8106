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
    """spread_if_narrow adds a round-robin Exchange ONLY for the shape it
    exists for — a file-backed input with fewer files than cores. A
    corpus-scale table (files >= cores) and inputs that read no files
    (in-memory and cached frames) come back unchanged without running a
    job; spreading an already-spread input leaves one Exchange in the
    executed plan (Catalyst collapses the adjacent repartitions)."""
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

    # already-spread input: one round-robin Exchange in the final plan
    again = spread_if_narrow(spread.select("id"))
    again.collect()
    final = again._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert final.count("RoundRobinPartitioning") == 1

    # cached narrow input (before and after the cache fills): it reads
    # no files, so it is returned as is, and deciding runs no job
    cached = narrow.filter("id % 2 = 0").cache()
    try:
        sc = spark.sparkContext
        sc.setJobGroup("spread-cached", "spread_if_narrow, cache empty")
        assert spread_if_narrow(cached) is cached
        sc.setJobGroup("fill-cache", "fill the cache")
        cached.count()
        sc.setJobGroup("spread-cached-filled", "spread_if_narrow, cache filled")
        assert spread_if_narrow(cached) is cached
        tracker = sc.statusTracker()
        assert tracker.getJobIdsForGroup("fill-cache")  # the probe works
        assert tracker.getJobIdsForGroup("spread-cached") == []
        assert tracker.getJobIdsForGroup("spread-cached-filled") == []
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            spark.sparkContext.setLocalProperty(key, None)
        cached.unpersist()

    # many-files parquet (>= cores): untouched — corpus-scale no-op
    many = str(tmp_path / "many")
    spark.range(1000).repartition(cores + 4).write.parquet(many)
    wide = spark.read.parquet(many)
    assert spread_if_narrow(wide) is wide


def test_driver_frames_only_through_driver_rows():
    """Driver-held rows enter a plan through ``session.driver_rows``
    alone: one Arrow ``LocalRelation`` in one partition, never a
    ``createDataFrame(list)`` that reruns pickled Python tasks over
    ``defaultParallelism`` slices at every action."""
    import ast

    pkg = Path(__file__).resolve().parents[1] / "lovdata_pipeline_spark"
    hits = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != "session.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
    ]
    assert not hits, hits


def test_driver_frames_scan_in_one_task(spark):
    """A driver frame is one partition: an ``orderBy`` over it plans no
    exchange, and ``hll_pair_overlap``'s collected register table scans
    in one task per stage (read from ``statusTracker`` under a job
    group) where a sliced ``LocalTableScan`` ran ``defaultParallelism``."""
    from lovdata_pipeline_spark.operators.sketches import hll_pair_overlap, hll_registers
    from lovdata_pipeline_spark.session import driver_rows

    rows = [(i % 7, f"r{i}") for i in range(50)]
    df = driver_rows(spark, rows, "k int, s string")
    assert df.rdd.getNumPartitions() == 1
    ordered = df.orderBy("k", "s")
    assert ordered.collect() == sorted(driver_rows(spark, rows, "k int, s string").collect())
    final = ordered._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in final, final

    docs = driver_rows(
        spark,
        [(i, src, " ".join(f"w{j}" for j in range(lo + i, lo + i + 20)))
         for src, lo in (("a", 0), ("b", 30), ("c", 300)) for i in range(6)],
        "doc_id long, source string, text string",
    )
    overlap = hll_pair_overlap(hll_registers(docs, p=5), p=5)  # collects the registers
    sc = spark.sparkContext
    sc.setJobGroup("hll-overlap", "hll_pair_overlap over driver registers")
    try:
        assert len(overlap.collect()) == 3
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("hll-overlap")
    assert jobs
    tasks = {
        sid: tracker.getStageInfo(sid).numTasks
        for jid in jobs
        for sid in tracker.getJobInfo(jid).stageIds
        if tracker.getStageInfo(sid) is not None
    }
    assert tasks and set(tasks.values()) == {1}, tasks


def test_library_holds_no_private_jvm_handles():
    """The package talks to Spark through the public PySpark API only:
    ``_jdf``/``_jvm``/``_jsc`` reach into private JVM objects whose
    plan strings and methods change across Spark versions."""
    import re

    pkg = Path(__file__).resolve().parents[1] / "lovdata_pipeline_spark"
    handle = re.compile(r"\._j(df|vm|sc)\b")
    hits = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if handle.search(line)
    ]
    assert not hits, hits


def test_only_indexwrite_touches_artifact_sidecars():
    """One module owns the versioned-artifact format: outside
    ``operators/indexwrite.py`` no package code opens, dumps or loads a
    ``_<kind>_params.json`` sidecar. File-object JSON (``json.load`` /
    ``json.dump``) is flagged everywhere else, and any file call whose
    arguments name a sidecar."""
    import ast
    import re

    pkg = Path(__file__).resolve().parents[1] / "lovdata_pipeline_spark"
    names_sidecar = re.compile(r"_params\.json|sidecar", re.IGNORECASE)
    file_calls = {"open", "replace", "read_text", "write_text", "load", "dump"}
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "operators/indexwrite.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = getattr(fn, "id", None) or getattr(fn, "attr", None)
            json_file_io = (
                name in ("load", "dump")
                and isinstance(fn, ast.Attribute)
                and isinstance(fn.value, ast.Name)
                and fn.value.id.lstrip("_") == "json"
            )
            if json_file_io or (
                name in file_calls and names_sidecar.search(ast.unparse(node))
            ):
                hits.append(f"{rel}:{node.lineno}")
    assert not hits, hits


def test_local_checkpoint_only_cuts_iterative_lineage():
    """``localCheckpoint`` blocks do not survive executor loss, so the
    package keeps it only where it truncates an iterative loop's
    lineage: the distributed components loop and pagerank. One-shot
    materializations use the dynamic-overwrite commit, a bounded
    collect or a persist released in ``finally``."""
    import ast

    pkg = Path(__file__).resolve().parents[1] / "lovdata_pipeline_spark"
    allowed = {
        ("operators/dedup.py", "connected_components"),
        ("operators/graph.py", "pagerank_quantized"),
    }
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr == "localCheckpoint"
                    and (rel, getattr(top, "name", None)) not in allowed
                ):
                    hits.append(f"{rel}:{node.lineno}")
    assert not hits, hits


def test_caches_have_one_owner():
    """``session.cached`` scopes a frame reused within one call and
    ``session.retain`` hands a frame back cached, so ``session.py`` is
    the only module that calls ``cache``, ``persist`` or ``unpersist``.
    The one exception is the distributed BPE loop, which swaps its
    cached frame every merge round."""
    import ast

    pkg = Path(__file__).resolve().parents[1] / "lovdata_pipeline_spark"
    allowed = {("operators/textstats.py", "_bpe_train_distributed")}
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "session.py":
            continue
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("cache", "persist", "unpersist")
                    and (rel, getattr(top, "name", None)) not in allowed
                ):
                    hits.append(f"{rel}:{node.lineno}")
    assert not hits, hits


#: the registry rows that stage files (stream sources, checkpoints,
#: landings, persisted stores and indexes)
STAGING_ROWS = (
    "streaming_session_counts",
    "streaming_session_append_counts",
    "streaming_vocab_counts",
    "streaming_dedup_counts",
    "streaming_interval_join_counts",
    "hll_store_merged_counts",
    "ann_topk_ivf_index",
    "dedup_incremental_minhash",
    "zorder_append_box_scan",
    "hdr_store_merged_quantiles",
)


def test_staging_and_drain_have_one_owner():
    """Every directory the package stages comes from
    ``queries._staging_dir`` (one root per process, removed at exit),
    and the registry's AvailableNow ``foreachBatch`` drain is written
    once, in ``queries._drain``."""
    import ast

    pkg = Path(__file__).resolve().parents[1] / "lovdata_pipeline_spark"
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                fn = getattr(node, "func", None)
                if (
                    isinstance(node, ast.Call)
                    and (getattr(fn, "attr", None) or getattr(fn, "id", None)) == "mkdtemp"
                    and (rel, getattr(top, "name", None)) != ("queries.py", "_staging_dir")
                ):
                    hits.append(f"{rel}:{node.lineno}")
    assert not hits, hits

    drains = [
        node.lineno
        for node in ast.walk(ast.parse((pkg / "queries.py").read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "trigger"
        and any(k.arg == "availableNow" for k in node.keywords)
    ]
    assert len(drains) == 1, drains


def test_registry_rows_leave_nothing_in_tmp(tmp_path):
    """A process that runs every file-staging registry row and exits
    leaves nothing in its temp directory: the rows stage under one root
    that is removed at interpreter exit."""
    import os
    import subprocess
    import textwrap

    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    script = textwrap.dedent(
        """
        import sys
        from lovdata_pipeline_spark import queries
        from lovdata_pipeline_spark.session import get_spark

        spark = get_spark("staging-leak", shuffle_partitions=2)
        for name in sys.argv[1:]:
            df = queries.QUERIES[name](spark, "/root/testdata/sf0.001")
            df.write.format("noop").mode("overwrite").save()
        print("ran", len(sys.argv) - 1)
        print("root", getattr(queries, "_staging_root", None))
        """
    )
    env = dict(
        os.environ,
        TMPDIR=str(tmpdir),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", script, *STAGING_ROWS],
        cwd=Path(__file__).resolve().parents[1],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"ran {len(STAGING_ROWS)}" in out.stdout, out.stdout
    assert sorted(os.listdir(tmpdir)) == []
    # the rows did stage under the temp directory before it was cleared
    assert f"root {tmpdir}{os.sep}" in out.stdout, out.stdout


def test_bench_reps_release_staged_directories(spark):
    """``bench.run_once`` releases after each rep, outside the timed
    region: the retained frames, the caches and the directories the
    rows staged, so a timing loop holds one rep's files, not all."""
    import os

    import bench
    from lovdata_pipeline_spark import queries

    for _ in range(2):
        bench.run_once(spark, queries.QUERIES["hll_store_merged_counts"], "/root/testdata/sf0.001")
        assert queries._staging_root is not None
        assert os.listdir(queries._staging_root) == []
