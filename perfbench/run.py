"""The repository benchmark: `lg process` ingest and a curation-query mix.

    python3 perfbench/run.py --workload ingest_delta --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):
  ingest_full   first `lg process` run over a seeded corpus, empty store
  ingest_delta  `lg process` of corpus v2 over the store and state of v1
  curate_mix    registry curation queries, each materialized into `noop`

Run it from the root of a checkout. One process runs on
local[<cores>]; the program sees only the generated files. Every run
checks its outputs, prints each metric as `name workload value unit`,
appends a record to .perfbench/results.jsonl and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones of a traced run instead of the
end-to-end ones.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

WORKLOADS = ("ingest_full", "ingest_delta", "curate_mix")
QUERY_MIX = ("dedup_ngram_jaccard_capped", "dedup_components")
N_DOCS = {"ingest_full": 100, "ingest_delta": 200}
#: rows of the registry's sf0.1 documents table, which curate_mix
#: regenerates with tools/scaleup.py's generator
SF01_DOCS = 5_000
SETUP_ROUNDS = 2
#: nominal seconds of one timed pass on a 4-core host. A run times
#: round(--seconds / PASS_S) passes, at least one: the count follows the
#: arguments and never the clock, so every run of a workload, on any
#: commit, takes the median of the same passes
PASS_S = {"ingest_full": 16.0, "ingest_delta": 16.0, "curate_mix": 8.0}
DEFAULT_SEED = 1


# --- process-tree memory -----------------------------------------------------


class RssSampler(threading.Thread):
    """Samples the summed RSS of this process and all its descendants
    (the JVM and the Python workers) from /proc."""

    def __init__(self, interval: float = 1.0):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def tree() -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def tree_rss(self) -> int:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak = max(self.peak, self.tree_rss())
            self._stop_event.wait(self.interval)

    def reset(self) -> None:
        self.peak = self.tree_rss()

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


# --- session ---------------------------------------------------------------


def start_session(work: str, cores: int, trace: bool):
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's scratch files (and its perf-data file) out of /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from lovdata_pipeline_spark.session import get_spark

    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    leftovers = set(RssSampler.tree()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while leftovers and time.time() < deadline:
        leftovers = {p for p in leftovers if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


def lg(*argv: str) -> dict:
    """Run one `lg` command in this process; returns its JSON output."""
    from lovdata_pipeline_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cli.main(list(argv))
    return json.loads(buf.getvalue().strip().splitlines()[-1])


# --- ingest workloads ----------------------------------------------------------


class Ingest:
    """ingest_full and ingest_delta: timed `lg process` passes."""

    def __init__(self, name: str, seed: int, work: str, spark):
        self.name, self.seed, self.work, self.spark = name, seed, work, spark
        self.corpus_dir = os.path.join(work, "corpus")
        self.store = os.path.join(work, "store")
        self.state = os.path.join(work, "state")
        self.pristine = os.path.join(work, "pristine")
        self.problems: list[str] = []

    # set-up
    def prepare(self) -> None:
        """Generate and write the inputs (v1 and v2 for ingest_delta)."""
        from perfbench.corpus import make_corpus, make_v2

        self.v1 = make_corpus(self.seed, N_DOCS[self.name])
        if self.name == "ingest_delta":
            self.v1.write(os.path.join(self.work, "corpus_v1"))
            self.final, self.change = make_v2(self.v1, self.seed)
        else:
            self.final, self.change = self.v1, None
        self.final.write(self.corpus_dir)

    def warmup(self) -> None:
        if self.name == "ingest_delta":
            # the pristine snapshot: v1 ingested into an empty store
            self._clear()
            try:
                out = lg("process", "--corpus", os.path.join(self.work, "corpus_v1"),
                         "--store", self.store, "--state", self.state)
            except Exception as exc:  # every pass then fails to restore it
                self.problems.append(f"v1 ingest raised {type(exc).__name__}: {exc}")
                return
            want = self._expected_v1()
            if out != want:
                self.problems.append(f"v1 ingest counts {out} != {want}")
            shutil.rmtree(self.pristine, ignore_errors=True)
            os.makedirs(self.pristine)
            shutil.copytree(self.store, os.path.join(self.pristine, "store"))
            shutil.copytree(self.state, os.path.join(self.pristine, "state"))
        else:
            self.run_pass()

    def _expected_v1(self) -> dict:
        bad = len(self.v1.malformed)
        return {"processed": len(self.v1.docs) - bad, "failed": bad, "removed": 0}

    def expected(self) -> dict:
        return self.change.expected if self.change else self._expected_v1()

    def _clear(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.rmtree(self.state, ignore_errors=True)

    def _restore(self) -> None:
        self._clear()
        shutil.copytree(os.path.join(self.pristine, "store"), self.store)
        shutil.copytree(os.path.join(self.pristine, "state"), self.state)

    def reset(self) -> None:
        """Untimed: the store and state a pass starts from."""
        if self.name == "ingest_delta":
            self._restore()
        else:
            self._clear()

    #: operations (pipeline runs) in one pass
    ops = 1

    def run_pass(self) -> tuple[float, dict]:
        t0 = time.perf_counter()
        try:
            self.reset()
            t0 = time.perf_counter()
            out = lg("process", "--corpus", self.corpus_dir, "--store", self.store,
                     "--state", self.state)
        except Exception as exc:  # a pass that raises is a failed op
            out = {"raised": f"{type(exc).__name__}: {exc}"}
        return time.perf_counter() - t0, out

    # checks
    def reference(self) -> None:
        from perfbench.reference import expected_chunks

        self.ref_digest, self.ref_chunks = expected_chunks(self.final)
        if self.change:
            touched = set(self.change.modified + self.change.added
                          + [self.change.poison_fixed, self.change.emptied])
        else:
            touched = set(self.ref_chunks)
        self.chunks_written = sum(self.ref_chunks.get(d, 0) for d in touched)

    def check_pass(self, out: dict) -> int:
        """PipelineResult counts and the store digest of one pass; returns
        the failed ops."""
        from perfbench.reference import store_digest

        failed = out != self.expected()
        if failed:
            self.problems.append(f"counts {out} != {self.expected()}")
        if "raised" in out:
            return 1
        self.digest = store_digest(self.store)
        if self.digest != self.ref_digest:
            self.problems.append("store digest differs from the single-process reference")
            failed = True
        return int(failed)

    def check_final(self) -> bool:
        """`lg validate` on the last pass's store and state, and the
        committed digest for the default seed."""
        problems = []
        try:
            v = lg("validate", "--store", self.store, "--state", self.state)
        except Exception as exc:
            v = f"raised {type(exc).__name__}: {exc}"
        # zero-chunk documents are processed but own no chunks, so
        # validate lists exactly them as missing from the store
        zero = sorted(d for d, n in self.ref_chunks.items() if n == 0)
        if not isinstance(v, dict) or v["in_store_not_state"] or v["in_state_not_store"] != zero:
            problems.append(f"validate: {v}")
        committed = committed_digests().get(self.name, {}).get(str(self.seed))
        if committed is not None and committed != getattr(self, "digest", None):
            problems.append("store digest differs from the committed digest")
        self.problems += problems
        return not problems

    def throughput(self, out: dict, wall_s: float) -> dict:
        """docs_per_s (documents whose state the pass changed) and
        chunks_per_s (chunks it wrote), over wall_s."""
        docs = sum(self.expected().values())
        return {"docs_per_s": (docs / wall_s, "1/s"),
                "chunks_per_s": (self.chunks_written / wall_s, "1/s")}

    # tracing
    def traced_pass(self, tracer) -> tuple[float, dict]:
        """One `lg process` pass with spans around the layer calls."""
        from lovdata_pipeline_spark.sources import xml_corpus
        from lovdata_pipeline_spark.sources.chunk_store import ChunkStore
        from lovdata_pipeline_spark.sources.state_store import StateStore
        from perfbench import trace

        hooks = [
            (xml_corpus, "read_xml_corpus", "xml_corpus.read"),
            (ChunkStore, "upsert_chunks", "chunk_store.upsert"),
            (ChunkStore, "delete_documents", "chunk_store.delete"),
            (StateStore, "mark_processed", "state_store.commit"),
            (StateStore, "mark_failed", "state_store.commit"),
            (StateStore, "remove", "state_store.commit"),
        ]
        for owner, attr, name in hooks:
            tracer.wrap(owner, attr, name)
        try:
            with tracer.span("pipeline"):
                wall, out = self.run_pass()
        finally:
            for owner, attr, _ in hooks:
                trace.unwrap(owner, attr)
        return wall, out

    def layer_runs(self, tracer) -> dict:
        """Each layer alone on materialized input, inside its own span."""
        from pyspark.sql import functions as F

        from lovdata_pipeline_spark.chunking import chunk_documents_df
        from lovdata_pipeline_spark.config import ChunkParams
        from lovdata_pipeline_spark.embedding import embed_chunks_df, mock_hash_provider
        from lovdata_pipeline_spark.operators.incremental import identify_changed
        from lovdata_pipeline_spark.sources.state_store import StateStore
        from lovdata_pipeline_spark.sources.xml_corpus import manifest_diff, read_xml_corpus

        spark = self.spark
        self.reset()
        state = StateStore(spark, self.state)
        processed = state.processed()
        prev = processed.select(
            "doc_id", F.col("hash").alias("source_hash"),
            F.lit(None).cast("string").alias("dataset_name"),
            F.lit(None).cast("string").alias("relative_path"),
        )
        out = {}
        with tracer.span("xml_corpus.scan") as s:
            docs = read_xml_corpus(spark, self.corpus_dir)
            manifest_diff(docs, prev).write.format("noop").mode("overwrite").save()
        out["xml_corpus.scan_s"] = s.duration
        manifest = manifest_diff(docs, prev).filter(F.col("status") != "removed")
        manifest = manifest.localCheckpoint(eager=True)
        with tracer.span("incremental.identify") as s:
            selected = identify_changed(manifest, processed.select("doc_id", "hash")).count()
        out["incremental.identify_s"] = s.duration
        out["incremental.docs_selected"] = selected
        # the chunker and embedder run alone over the WHOLE corpus, so
        # their throughput shows even where the pass itself reprocesses
        # only a few documents
        docs_in = docs.localCheckpoint(eager=True)
        n_docs = docs_in.count()
        with tracer.span("chunking") as s:
            chunk_documents_df(docs_in, ChunkParams()).write.format("noop").mode(
                "overwrite").save()
        chunks = chunk_documents_df(docs_in, ChunkParams()).localCheckpoint(eager=True)
        good = chunks.filter(F.col("error").isNull()).localCheckpoint(eager=True)
        n_chunks = good.count()
        n_failed = chunks.filter(F.col("error").isNotNull()).select("document_id").distinct().count()
        out.update({
            "chunking.busy_s": s.duration,
            "chunking.docs": n_docs,
            "chunking.chunks": n_chunks,
            "chunking.docs_failed": n_failed,
            "chunking.docs_per_s": n_docs / s.duration,
        })
        with tracer.span("embedding") as s:
            embed_chunks_df(good, provider=mock_hash_provider(64), dims=64).write.format(
                "noop").mode("overwrite").save()
        out["embedding.busy_s"] = s.duration
        out["embedding.chunks_per_s"] = n_chunks / s.duration
        # processed and failed each count a selected document once
        want = (
            self.expected()["processed"] + self.expected()["failed"],
            sum(self.ref_chunks.values()),
            len(self.final.malformed),
        )
        if (selected, n_chunks, n_failed) != want:
            self.problems.append(
                f"layer runs (selected, chunks, failed) {(selected, n_chunks, n_failed)} != {want}"
            )
        return out

def committed_digests() -> dict:
    """perfbench/digests.json: the store digest of each ingest workload
    for the default seed, and each curate_mix query's result digest."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")) as fh:
        return json.load(fh)


# --- curation-query workload ------------------------------------------------------


class Curate:
    """curate_mix: QUERY_MIX over an sf0.1-sized documents table, in an
    order the seed sets."""

    def __init__(self, name: str, seed: int, work: str, spark):
        self.name, self.seed, self.work, self.spark = name, seed, work, spark
        self.tables = os.path.join(work, "tables")
        self.order = list(QUERY_MIX)
        random.Random(seed).shuffle(self.order)
        self.problems: list[str] = []
        #: queries whose warm-up result failed its check
        self.bad: set[str] = set()
        self.query_walls: dict[str, list[float]] = {q: [] for q in QUERY_MIX}
        self.cold_walls: dict[str, float] = {}

    def prepare(self) -> None:
        """The documents table at sf0.1's row count, from tools/scaleup.py's
        generator. Its rows derive from row ids alone, so every seed and
        every run reads the same rows."""
        from tools import scaleup

        scaleup.N_DOCS = SF01_DOCS
        scaleup.write_documents(self.spark, os.path.join(self.tables, "documents.parquet"))

    def reference(self) -> None:
        """The result digests, recorded once after tools/diffcheck.py
        passed each query against its DuckDB oracle on these tables."""
        self.want = committed_digests()[self.name]

    def warmup(self) -> None:
        """First pass, collected and checked against the recorded digests."""
        from lovdata_pipeline_spark.queries import QUERIES
        from tools.diffcheck import canon

        for q in self.order:
            t = time.perf_counter()
            try:
                got = _digest(canon(QUERIES[q](self.spark, self.tables).toPandas()))
            except Exception as exc:
                got = f"raised {type(exc).__name__}: {exc}"
            self.cold_walls[q] = time.perf_counter() - t
            if got != self.want[q]:
                self.bad.add(q)
                self.problems.append(f"{q} result differs from its recorded digest ({got[:80]})")

    #: operations (queries) in one pass
    ops = len(QUERY_MIX)

    def run_pass(self, tracer=None) -> tuple[float, dict]:
        from lovdata_pipeline_spark.queries import QUERIES

        raised = set()
        t0 = time.perf_counter()
        for q in self.order:
            t = time.perf_counter()
            span = tracer.span(f"queries.{q}") if tracer else contextlib.nullcontext()
            try:
                with span:
                    QUERIES[q](self.spark, self.tables).write.format("noop").mode(
                        "overwrite").save()
            except Exception as exc:  # a query that raises is a failed op
                raised.add(q)
                self.problems.append(f"{q} raised {type(exc).__name__}: {exc}")
            self.query_walls[q].append(time.perf_counter() - t)
        return time.perf_counter() - t0, {"raised": raised}

    def check_pass(self, out: dict) -> int:
        """Failed ops of a pass: queries that raised in it, or whose
        result the warm-up found wrong (a noop pass has no output)."""
        return len(out["raised"] | self.bad)

    def check_final(self) -> bool:
        return not self.bad

    def throughput(self, out: dict, wall_s: float) -> dict:
        return {}

    def traced_pass(self, tracer) -> tuple[float, dict]:
        with tracer.span("pipeline"):
            return self.run_pass(tracer)

    def layer_runs(self, tracer) -> dict:
        return {}


def _digest(rows) -> str:
    import hashlib

    return hashlib.sha256(repr(rows).encode()).hexdigest()


# --- metrics -------------------------------------------------------------------

END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("peak_rss_mb", "MB"))
CENSUS = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes")
PER_LAYER = (
    [("xml_corpus.scan_s", "s"), ("xml_corpus.bytes_scanned", "bytes"),
     ("incremental.identify_s", "s"), ("incremental.docs_selected", "count"),
     ("chunking.busy_s", "s"), ("chunking.docs", "count"), ("chunking.chunks", "count"),
     ("chunking.docs_failed", "count"), ("chunking.docs_per_s", "1/s"),
     ("embedding.busy_s", "s"), ("embedding.chunks_per_s", "1/s"),
     ("chunk_store.upsert_s", "s"), ("chunk_store.delete_s", "s"),
     ("chunk_store.buckets_touched", "count"), ("chunk_store.bytes_written", "bytes"),
     ("chunk_store.write_amplification", "ratio"),
     ("state_store.commit_s", "s"), ("state_store.commits", "count")]
    + [(f"pipeline.{c}", "s" if c.endswith("_s") else "bytes" if c.endswith("bytes")
        else "count") for c in CENSUS]
    + [("pipeline.driver_s", "s")]
    + [(f"queries.{q}.{c}", "s" if c.endswith("_s") else "bytes" if c.endswith("bytes")
        else "count") for q in QUERY_MIX for c in ("wall_s",) + CENSUS]
    + [("session.start_s", "s"), ("session.warmup_s", "s"), ("trace.overhead_s", "s")]
)


def store_changes(before: dict, after: dict, changed_rows: int) -> dict:
    """Bucket files a pass rewrote, from the file listings around it."""
    new = {p: v for p, v in after.items() if before.get(p) != v}
    gone = set(before) - set(after)
    buckets = {os.path.basename(os.path.dirname(p)) for p in list(new) + list(gone)}
    rows = sum(v[1] for v in new.values())
    return {
        "chunk_store.buckets_touched": len(buckets),
        "chunk_store.bytes_written": sum(v[0] for v in new.values()),
        "chunk_store.write_amplification": rows / max(1, changed_rows),
    }


def traced_metrics(wl, spark, tracer, work: str, untraced_wall: float):
    """Per-layer metrics from one traced pass plus the layer-alone runs."""
    from perfbench import trace
    from perfbench.reference import bucket_files, document_rows

    m = {k: 0.0 for k, _ in PER_LAYER}
    wall, out = wl.traced_pass(tracer)
    failed = wl.check_pass(out)
    root = next(s for s in reversed(tracer.spans) if s.name == "pipeline")
    if isinstance(wl, Ingest):
        # rows the pass had to write or delete: the changed documents'
        # rows after the pass plus, for a delta, their rows before it
        changed = wl.change.changed_ids if wl.change else set(wl.ref_chunks)
        changed_rows = sum(n for d, n in wl.ref_chunks.items() if d in changed)
        before = {}
        if wl.change:
            start = os.path.join(wl.pristine, "store")
            before = bucket_files(start)
            changed_rows += document_rows(start, changed)
        m.update(store_changes(before, bucket_files(wl.store), changed_rows))
    m.update(wl.layer_runs(tracer))
    trace.flush_listener_bus(spark)
    jobs, stages = trace.read_event_log(os.path.join(work, "eventlog"))
    spans = [s for s in tracer.spans if root.start <= s.start and s.end <= root.end]
    for name in ("chunk_store.upsert", "chunk_store.delete", "state_store.commit"):
        m[f"{name}_s"] = sum(s.duration for s in spans if s.name == name)
    m["state_store.commits"] = sum(1 for s in spans if s.name == "state_store.commit")
    whole = trace.census(jobs, stages, root.start, root.end)
    for c in CENSUS:
        m[f"pipeline.{c}"] = whole[c]
    m["pipeline.driver_s"] = root.duration - whole["busy_s"]
    if isinstance(wl, Curate):
        for q in QUERY_MIX:
            s = next(s for s in spans if s.name == f"queries.{q}")
            c = trace.census(jobs, stages, s.start, s.end, groups={s.name})
            m[f"queries.{q}.wall_s"] = s.duration
            for k in CENSUS:
                m[f"queries.{q}.{k}"] = c[k]
    else:
        scan = next(s for s in tracer.spans if s.name == "xml_corpus.scan")
        m["xml_corpus.bytes_scanned"] = trace.census(
            jobs, stages, scan.start, scan.end, groups={scan.name})["bytes_read"]
    m["trace.overhead_s"] = wall - untraced_wall
    return m, account(tracer, root, jobs, stages), wall, failed


def account(tracer, root, jobs, stages) -> dict:
    """Split the traced pass's wall time: job-busy time per span (the
    jobs of its job group) plus time with no job running."""
    from perfbench import trace

    names = sorted({s.name for s in tracer.spans
                    if root.start <= s.start and s.end <= root.end})
    rows = {}
    for n in names:
        rows[n] = trace.census(jobs, stages, root.start, root.end, groups={n})["busy_s"]
    total = trace.census(jobs, stages, root.start, root.end)["busy_s"]
    rows["(no job running)"] = root.duration - total
    rows["(wall)"] = root.duration
    return rows


# --- main -----------------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                   help="local[N] cores (default: all available)")
    p.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "results.jsonl"),
                   help="JSON-lines file each run appends its record to")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import lovdata_pipeline_spark  # noqa: F401
        import tools.diffcheck  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the root of a lovdata-spark checkout ({exc})",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, args.cores, bool(args.trace))
        session_start = time.perf_counter() - t0
        return run(args, spark, work, sampler, session_start)
    finally:
        sampler.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def run(args, spark, work, sampler, session_start) -> int:
    from perfbench.trace import Tracer

    cls = Curate if args.workload == "curate_mix" else Ingest
    wl = cls(args.workload, args.seed, work, spark)

    # set-up: session start + warm-up once, input preparation several times
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        wl.prepare()
        rounds.append(time.perf_counter() - t0)
    wl.reference()
    t0 = time.perf_counter()
    wl.warmup()
    warmup = time.perf_counter() - t0
    setup_s = session_start + warmup + statistics.median(rounds)

    # timed passes (tracing off)
    n_passes = max(1, round(args.seconds / PASS_S[args.workload]))
    walls, failed = [], 0
    sampler.reset()
    for _ in range(n_passes):
        wall, out = wl.run_pass()
        walls.append(wall)
        failed += wl.check_pass(out)
    attempted = wl.ops * n_passes
    peak_mb = sampler.peak / 2**20
    if not wl.check_final() and not failed:
        failed = 1
    wall_s = statistics.median(walls)
    e2e = {"setup_s": setup_s, "wall_s": wall_s, "peak_rss_mb": peak_mb}
    # printed and recorded, not gated: docs_per_s and chunks_per_s restate
    # wall_s over counts the seed fixes, and a correct run fails no op
    extra = wl.throughput(out, wall_s)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "passes": n_passes,
        "walls": walls,
        "setup_rounds": rounds,
        "session_start_s": session_start,
        "warmup_s": warmup,
        "query_walls": getattr(wl, "query_walls", None),
        "cold_query_walls": getattr(wl, "cold_walls", None),
        **{k: v for k, (v, _) in extra.items()},
        **provenance(args.cores),
    }
    if args.trace:
        tracer = Tracer(spark)
        attempted += wl.ops
        try:
            metrics, accounting, traced_wall, traced_failed = traced_metrics(
                wl, spark, tracer, work, walls[-1])
            failed += traced_failed
        except Exception as exc:  # a traced run that raises is a failed op
            wl.problems.append(f"traced run raised {type(exc).__name__}: {exc}")
            metrics, accounting, traced_wall = {k: 0.0 for k, _ in PER_LAYER}, {}, 0.0
            failed += wl.ops
        metrics["session.start_s"] = session_start
        metrics["session.warmup_s"] = warmup
        units = dict(PER_LAYER)
        record.update(metrics=metrics, accounting=accounting, traced_wall_s=traced_wall,
                      spans=[vars(s) for s in tracer.spans])
        result_metrics = {k: {"value": metrics[k], "unit": units[k]} for k, _ in PER_LAYER}
        if accounting:
            print_accounting(args.workload, accounting)
    else:
        record["metrics"] = e2e
        result_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    extra["ops_failed_ratio"] = (failed / attempted, "ratio")
    correct = not wl.problems and failed == 0
    record.update(ops_failed_ratio=failed / attempted, attempted=attempted, failed=failed,
                  correct=correct, problems=wl.problems)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "a") as fh:
        fh.write(json.dumps(record) + "\n")
    for problem in wl.problems:
        print(f"CHECK FAILED: {problem}", file=sys.stderr)
    for k, v in result_metrics.items():
        print(f"{k:48s} {args.workload:13s} {v['value']:16.6f} {v['unit']}")
    for k, (v, unit) in extra.items():
        print(f"{k:48s} {args.workload:13s} {v:16.6f} {unit}")
    print(f"# wall_s is the median of {n_passes} timed pass(es)")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics}))
    return 0


def print_accounting(workload: str, rows: dict) -> None:
    wall = rows["(wall)"]
    print(f"# traced {workload} pass: job-busy time per span + idle driver time")
    for k, v in rows.items():
        if k != "(wall)":
            print(f"#   {k:40s} {v:9.3f} s")
    covered = sum(v for k, v in rows.items() if k != "(wall)")
    print(f"#   {'sum / traced wall':40s} {covered:9.3f} / {wall:.3f} s")


def provenance(cores: int) -> dict:
    import pyspark

    from tools.gitinfo import tree_sha

    # a checkout that is not a repository reads "unknown"; git must not
    # look for one in the directories above it
    os.environ["GIT_CEILING_DIRECTORIES"] = os.path.dirname(ROOT)
    return {"nproc": cores, "pyspark": pyspark.__version__, "tree_sha": tree_sha()}


if __name__ == "__main__":
    sys.exit(main())
