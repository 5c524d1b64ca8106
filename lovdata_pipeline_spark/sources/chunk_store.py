"""Bucketed parquet chunk store — the engine's central table.

The reference's vector store contract (reference: domain/vector_store.py:11-63):
upsert by chunk_id, delete by document_id, count, distinct doc ids, point
lookups. Its JSONL backend writes one file per source hash
(jsonl_vector_store.py:19-30) — a small-files disaster at 100 TB.

Scale design here: chunks are hash-bucketed by ``document_id`` into a
fixed number of partition directories (``bucket=NN``). Every mutation
touches only the buckets its documents hash into, committed via dynamic
partition overwrite — Spark's task-commit protocol gives atomic
per-partition replacement, the parquet-only analog of Delta MERGE/DELETE.
Point lookups by document prune to one bucket. At cluster scale you'd
raise ``n_buckets`` (or swap in Delta with the same call sites); the
layout already co-locates a document's chunks, so per-document reads and
replacements never shuffle the whole store.

Documents are replaced wholesale on reprocess (the reference rewrites the
whole per-hash file, jsonl_vector_store.py:41-80), so upsert = delete doc
∪ insert new — equivalent to chunk_id last-wins because chunk ids are
positional per document.
"""

from __future__ import annotations

from collections.abc import Iterable
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from lovdata_pipeline_spark.operators.indexwrite import write_json_atomic
from lovdata_pipeline_spark.schemas import ENRICHED_CHUNKS_SCHEMA
from lovdata_pipeline_spark.session import cached, driver_rows

_BUCKET = "bucket"
_META = "_store_meta.json"
# NOTE: built as a fresh StructType — StructType.add mutates in place and
# would corrupt the shared ENRICHED_CHUNKS_SCHEMA.
_STORED_SCHEMA = T.StructType(
    list(ENRICHED_CHUNKS_SCHEMA.fields) + [T.StructField(_BUCKET, T.IntegerType(), True)]
)


class ChunkStore:
    # roots whose legacy layout the data scan already confirmed THIS
    # process, keyed by (realpath, n_buckets). When the sidecar cannot
    # be written (read-only mount: EROFS/EACCES swallowed below) every
    # open would otherwise repeat the full (document_id, bucket) scan —
    # minutes of I/O per open on a large store (r12 review). The memo
    # keeps the unwritable-store path at one scan per process; a fresh
    # process re-validates, which is the desired behavior for a store
    # that can't persist its pin.
    _data_confirmed: set[tuple[str, int]] = set()

    def __init__(
        self, spark: SparkSession, root: str | Path, n_buckets: int | None = None
    ):
        self.spark = spark
        self.root = str(root)
        Path(self.root).mkdir(parents=True, exist_ok=True)
        # bucket count is part of the on-disk layout: every bucket-pruned
        # lookup, upsert and delete derives the bucket from
        # pmod(hash, n_buckets), so reopening an existing store with a
        # different modulus would silently miss lookups and duplicate
        # reprocessed documents across old and new buckets (r10 review —
        # CLI consumers were reopening 4-bucket test stores with the old
        # default of 32; harmless for their read-only paths, corrupting
        # for a mutation). The count persists in a sidecar on first
        # write; ``n_buckets=None`` (the default) ADOPTS the stored
        # layout (else 32), while an explicit mismatch fails loud —
        # changing it requires a rebuild (read -> new store), exactly
        # like re-bucketing a Hive table.
        meta = Path(self.root) / _META
        stored = None
        if meta.exists():
            import json as _json

            stored = _json.loads(meta.read_text()).get("n_buckets")
        if n_buckets is None:
            self.n_buckets = stored if stored is not None else 32
        else:
            if stored is not None and stored != n_buckets:
                raise ValueError(
                    f"chunk store at {self.root} was written with "
                    f"n_buckets={stored}; reopening with n_buckets="
                    f"{n_buckets} would corrupt the bucket layout — "
                    "rebuild the store (read + rewrite) to change it"
                )
            self.n_buckets = n_buckets
        # Legacy stores (pre-sidecar, non-empty) get the sidecar pinned ON
        # OPEN, not on the next mutation — otherwise a later open with an
        # explicit wrong modulus still slips past the mismatch guard and
        # silently corrupts the layout (r10 ADVICE). Only an EXPLICIT
        # n_buckets may pin: the bucket directories alone cannot confirm
        # a modulus (max dir < n is necessary, not sufficient), so
        # pinning the 32 DEFAULT onto, say, a legacy 4-bucket store would
        # itself be the corruption — and even read paths are unsafe under
        # a guessed modulus, because chunks_for_document PRUNES to the
        # computed bucket and silently misses (r11 review). A default
        # open of an ambiguous legacy store therefore fails loud.
        if stored is None:
            on_disk = [
                int(p.name.split("=", 1)[1])
                for p in Path(self.root).glob(f"{_BUCKET}=*")
                if p.is_dir() and p.name.split("=", 1)[1].isdigit()
            ]
            if on_disk:
                if n_buckets is None:
                    raise ValueError(
                        f"chunk store at {self.root} predates the "
                        "_store_meta.json sidecar and its bucket modulus "
                        "cannot be inferred from the directories — open it "
                        "once with the explicit original n_buckets (this "
                        "pins the sidecar); even bucket-pruned reads are "
                        "wrong under a guessed modulus"
                    )
                if max(on_disk) >= self.n_buckets:
                    raise ValueError(
                        f"chunk store at {self.root} has bucket directories "
                        f"up to {max(on_disk)} but was opened with n_buckets="
                        f"{self.n_buckets}; the layout was written with a "
                        "larger modulus — open with the original n_buckets "
                        "or rebuild the store"
                    )
                # Directory names alone cannot confirm a modulus — not
                # even all-of-0..n-1-present (r12, r11 ADVICE: a legacy
                # store written with a LARGER modulus whose populated
                # dirs happen to be exactly 0..n-1 would pin the wrong
                # count permanently). Confirm by DATA instead: every
                # stored document_id must hash into the directory that
                # holds it under the claimed modulus. One column-pruned
                # scan of (document_id, bucket), only ever on the
                # one-time legacy-pin path; a full pass proves the
                # layout IS a valid n-bucket store going forward
                # (lookups/deletes/upserts under n all agree with the
                # on-disk placement), so the pin no longer waits for
                # every directory to exist and a provably-wrong
                # explicit modulus fails loud instead of silently
                # mis-pruning this session's reads.
                memo_key = (
                    str(Path(self.root).resolve()),
                    self.n_buckets,
                )
                if memo_key not in ChunkStore._data_confirmed:
                    mismatched = (
                        self.read()
                        .where(F.col(_BUCKET) != self._bucket_col())
                        .limit(1)
                        .count()
                    )
                    if mismatched:
                        raise ValueError(
                            f"chunk store at {self.root} holds documents "
                            f"that do not hash into their bucket "
                            f"directories under n_buckets={self.n_buckets} "
                            "— the layout was written with a different "
                            "modulus; open with the original n_buckets or "
                            "rebuild the store"
                        )
                    ChunkStore._data_confirmed.add(memo_key)
                self._pin_buckets()

    def _pin_buckets(self) -> None:
        """Commit ``n_buckets`` to ``_store_meta.json`` atomically: a crash
        mid-write leaves no sidecar, never a truncated one."""
        import errno

        try:
            write_json_atomic(Path(self.root) / _META, {"n_buckets": self.n_buckets})
        except OSError as exc:
            # ONLY the read-only cases pass silently (pinning waits for a
            # writable open). Swallowing e.g. ENOSPC would silently leave
            # a WRITABLE store unpinned and revive the slip-past
            # corruption path this guard exists to close (r11 review).
            if exc.errno not in (errno.EROFS, errno.EACCES, errno.EPERM):
                raise

    def _bucket_col(self, doc_id: str | Column | None = None):
        """The bucket of the row's ``document_id``, of a doc-id column or,
        given a string, of that literal id — a constant Spark folds into a
        partition filter."""
        if doc_id is None:
            key = F.col("document_id")
        else:
            key = doc_id if isinstance(doc_id, Column) else F.lit(doc_id)
        return F.pmod(F.xxhash64(key), F.lit(self.n_buckets)).cast("int")

    def _empty(self) -> DataFrame:
        df = driver_rows(self.spark, [], ENRICHED_CHUNKS_SCHEMA)
        return df.withColumn(_BUCKET, F.lit(0).cast("int")).limit(0)

    def read(self) -> DataFrame:
        if not any(Path(self.root).glob(f"{_BUCKET}=*")):
            return self._empty()
        return self.spark.read.schema(_STORED_SCHEMA).parquet(self.root)

    def _write_buckets(self, df: DataFrame) -> None:
        # Dynamic overwrite: only partitions present in `df` are replaced.
        (
            df.repartition(_BUCKET)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_BUCKET)
            .parquet(self.root)
        )
        # Session-wide FileStatusCache still lists the replaced files.
        self.spark.catalog.refreshByPath(self.root)
        # Pin the sidecar only once data actually exists (r14 ADVICE): an
        # empty write creates no bucket partitions, and stamping
        # n_buckets onto a store holding zero data would make a later
        # open of the still-empty store with a different explicit
        # n_buckets fail the mismatch guard for no reason.
        if not (Path(self.root) / _META).exists() and any(Path(self.root).glob(f"{_BUCKET}=*")):
            self._pin_buckets()

    def _rewrite(self, incoming: DataFrame | None, drop: list[str]) -> int:
        """The mutation path for callers that do not know the touched
        buckets: ONE probe job finds every bucket that ``incoming`` writes
        to or that stores a ``drop`` document, and ``_replace`` rewrites
        them. Returns the stored rows dropped for ``drop`` ids."""
        if not any(Path(self.root).glob(f"{_BUCKET}=*")):
            # First load into an EMPTY store (r13): nothing to drop or merge,
            # and the write reads no store files, so the probe and the
            # incoming cache are pure overhead — the chunk→embed output is
            # evaluated exactly ONCE, by the write itself (an empty incoming
            # writes no partitions).
            if incoming is not None:
                self._write_buckets(incoming.select(*[f.name for f in _STORED_SCHEMA.fields]))
            return 0
        # Cache the incoming side: the probe AND the rewrite each read it,
        # and upstream is typically the whole chunk→embed Python path —
        # with a paid embedding provider a second evaluation is double the
        # API calls, not just double compute.
        with cached(incoming):
            # ONE probe job: the buckets incoming writes to, plus the stored
            # hits of the drop ids. The layout invariant (every document
            # lives in bucket pmod(xxhash64(document_id), n_buckets)) prunes
            # the hit scan to the drop ids' own buckets.
            probes = []
            if incoming is not None:
                probes.append(incoming.select(_BUCKET, F.lit(0).alias("_hit")))
            if drop:
                probes.append(
                    self.read()
                    .filter(
                        F.col(_BUCKET).isin([self._bucket_col(d) for d in drop])
                        & F.col("document_id").isin(drop)
                    )
                    .select(_BUCKET, F.lit(1).alias("_hit"))
                )
            if not probes:
                return 0
            probe = probes[0] if len(probes) == 1 else probes[0].unionByName(probes[1])
            rows = probe.groupBy(_BUCKET).agg(F.sum("_hit").alias("_n")).collect()
            self._replace(incoming, drop, sorted(r[_BUCKET] for r in rows))
            return sum(r["_n"] for r in rows)

    def _replace(self, incoming: DataFrame | None, drop: list[str], touched: list[int]) -> None:
        """The one rewrite: each ``touched`` bucket is read once, loses the
        stored rows of the incoming and dropped documents, gains
        ``incoming``, and is written back in one dynamic overwrite.
        Untouched buckets are neither read nor written, so ``touched``
        must hold every bucket ``incoming`` writes to: a bucket missing
        from it would be overwritten with the incoming rows alone."""
        if not touched:
            return
        keep = self.read().filter(F.col(_BUCKET).isin(touched))
        if drop:
            keep = keep.filter(~F.col("document_id").isin(drop))
        if incoming is not None:
            keep = keep.join(
                incoming.select("document_id").distinct(), "document_id", "left_anti"
            ).unionByName(incoming.select(*keep.columns))
        # The rewrite plan reads the same files it replaces. Dynamic
        # overwrite makes that safe without materializing ``keep``:
        # every task writes to a staging directory and the bucket
        # directories are swapped only at job commit, after every
        # task has read its input.
        before = {b: self._bucket_files(b) for b in touched}
        self._write_buckets(keep)
        # Dynamic overwrite never writes a partition that ended up empty,
        # so a fully-emptied bucket keeps its old files — it is exactly
        # a touched bucket whose files the write did not replace. Drop
        # it (the analog of the reference unlinking emptied JSONL files,
        # jsonl_vector_store.py:104-117).
        import shutil

        emptied = [b for b in touched if before[b] and self._bucket_files(b) == before[b]]
        for b in emptied:
            shutil.rmtree(Path(self.root) / f"{_BUCKET}={b}", ignore_errors=True)
        if emptied:
            self.spark.catalog.refreshByPath(self.root)

    def _bucket_files(self, bucket: int) -> set[str]:
        return {p.name for p in (Path(self.root) / f"{_BUCKET}={bucket}").glob("*.parquet")}

    # -- mutations (op 24 upsert / op 26 delete) ------------------------------

    def upsert_chunks(
        self,
        chunks: DataFrame,
        delete: Iterable[str] = (),
        buckets: Iterable[int] | None = None,
    ) -> None:
        """Replace all chunks of the incoming documents, insert the rest,
        and delete every chunk of the ``delete`` documents — one bucket
        rewrite for the lot.

        Touched buckets are recomputed as (survivors ∪ incoming) and
        atomically swapped; untouched buckets are not read or written.
        ``buckets``, when given, are the touched buckets: every bucket the
        incoming documents hash into plus every bucket storing a
        ``delete`` document (see ``_bucket_col``). It saves the probe job
        that otherwise finds them; ``run_pipeline`` takes them from its
        decision aggregate. The rewrite reads ``chunks`` twice (the
        replaced ids and the new rows), so pass ``buckets`` with a cached
        or cheap ``chunks``; without it the probe path caches it.
        """
        chunks = chunks.withColumn(_BUCKET, self._bucket_col())
        if buckets is None:
            self._rewrite(chunks, list(delete))
        else:
            self._replace(chunks, list(delete), sorted(buckets))

    def delete_documents(self, doc_ids: DataFrame) -> int:
        """DELETE WHERE document_id IN (...); returns deleted count
        (contract: vector_store.py:29-41)."""
        # a delete set is small by contract: collected once to the driver,
        # it prunes the probe to its buckets and filters the rewrite
        ids = [r[0] for r in doc_ids.select("document_id").distinct().collect()]
        return self._rewrite(None, ids)

    # NOTE on file counts: no compaction op is needed in this layout.
    # Every mutation rewrites its touched buckets *wholesale* (dynamic
    # partition overwrite replaces the partition's files, and
    # repartition(_BUCKET) gives one task — hence one file — per bucket),
    # so a bucket directory holds exactly one data file at all times and
    # small files never accumulate. If a single bucket outgrows one
    # healthy file at scale, the levers are raising n_buckets or
    # `spark.sql.files.maxRecordsPerFile` — not an OPTIMIZE pass.

    # -- queries (ops 28-30) ----------------------------------------------------

    def count(self) -> int:
        return self.read().count()

    def distinct_document_ids(self) -> DataFrame:
        return self.read().select("document_id").distinct()

    def chunks_for_document(self, doc_id: str) -> DataFrame:
        # Bucket pruning: the predicate on the partition column means only
        # one directory is scanned.
        return self.read().filter(
            (F.col(_BUCKET) == self._bucket_col(doc_id)) & (F.col("document_id") == doc_id)
        )

    def chunks_for_source_hash(self, source_hash: str) -> DataFrame:
        return self.read().filter(F.col("source_hash") == source_hash)
