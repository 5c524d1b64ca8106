"""Incremental change detection — the engine's defining batch contract.

Each run processes only documents whose content hash changed since the
recorded state, plus cleans up removed ones (reference:
pipeline_orchestrator.py:214-278, rationale state.py:1-14). Expressed
as plain optimized joins:

  changed  = manifest WHERE status IN (added, modified)
  to_do    = changed LEFT JOIN processed_state ON doc_id
             WHERE coalesce(source_hash <> hash, true)              -- op 5
  removed  = manifest WHERE status = removed                        -- op 4

The join keeps a row unless both hashes are present and equal, and it
adds ``stored`` (the state lists the doc_id). The processed-state side
is one row per document — tiny relative to the corpus — so Catalyst
broadcasts it and the join never shuffles the manifest. This ordering
(filter before chunk/embed) is the pipeline-level "pushdown" the
reference hand-rolls: never re-embed unchanged documents
(docs/GUIDE.md:479-496).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from lovdata_pipeline_spark.schemas import MANIFEST_SCHEMA
from lovdata_pipeline_spark.session import driver_rows

CHANGED_STATUSES = ("added", "modified")


def flatten_sync_state(spark: SparkSession, state_json_path: str | Path) -> DataFrame:
    """Flatten lovlig's nested state.json into a manifest DataFrame.

    Input shape (reference: lovlig.py:70-106):
    ``{"raw_datasets": {dataset.tar.bz2: {"files": {rel: {sha256, status}}}}}``
    Dataset dir name strips the archive suffix; doc_id is the file stem
    (lovlig.py:87-95).
    """
    raw = json.loads(Path(state_json_path).read_text())
    rows = []
    for archive, ds in (raw.get("raw_datasets") or {}).items():
        dataset = archive.removesuffix(".tar.bz2")
        for rel_path, meta in (ds.get("files") or {}).items():
            rows.append(
                (
                    Path(rel_path).stem,
                    dataset,
                    rel_path,
                    meta.get("sha256", ""),
                    meta.get("status", "added"),
                )
            )
    return driver_rows(spark, rows, MANIFEST_SCHEMA)


def filter_datasets(manifest: DataFrame, pattern: str) -> DataFrame:
    """Wildcard dataset selection (op 8; reference settings.py:94-97).

    fnmatch-style: ``*`` = any run, ``?`` = one char; LIKE's own
    metacharacters (``%``/``_``) in the pattern are escaped so they match
    literally. Rows with NULL dataset_name (removed docs, whose dataset
    the diff cannot recover) pass through — cleanup must not be silently
    skipped by a dataset filter.

    On a ``dataset_name``-partitioned layout this predicate becomes
    partition pruning — non-matching datasets are never listed.
    """
    if pattern in ("*", "", None):
        return manifest
    like = (
        pattern.replace("\\", "\\\\")
        .replace("%", r"\%")
        .replace("_", r"\_")
        .replace("*", "%")
        .replace("?", "_")
    )
    col = F.col("dataset_name")
    return manifest.filter(col.isNull() | col.like(like))


def _with_prior_hash(manifest: DataFrame, processed_state: DataFrame) -> DataFrame:
    """``manifest`` plus ``prior_hash``: the hash the processed state lists
    for the doc_id, NULL when it lists none. The state side is one row per
    document, so it is broadcast; keyed on doc_id alone, every use of it
    in one plan shares one broadcast and one state scan."""
    prior = processed_state.select("doc_id", F.col("hash").alias("prior_hash"))
    return manifest.join(F.broadcast(prior), "doc_id", "left")


def identify_changed(
    manifest: DataFrame,
    processed_state: DataFrame,
    force: bool = False,
    limit: int | None = None,
) -> DataFrame:
    """Documents to (re)process this run (ops 4-7).

    ``processed_state``: (doc_id, hash) of successfully processed docs.
    force bypasses the hash comparison (op 6); limit is a deterministic
    head-n by doc_id for testing (op 7 — the reference's list slice is
    input-ordered; we order by key so the result is partition-independent).
    The result adds ``stored``: whether the processed state lists the
    doc_id under any hash, i.e. whether the chunk store holds an earlier
    version of the document.
    """
    if force:
        # Force takes ALL non-removed files, not just changed ones
        # (pipeline_orchestrator.py:249-256 uses get_all_files).
        changed = manifest.filter(F.col("status") != "removed")
    else:
        changed = manifest.filter(F.col("status").isin(*CHANGED_STATUSES))
    changed = _with_prior_hash(changed, processed_state)
    if not force:
        # drop a row only where the hashes compare equal (a NULL on
        # either side keeps it)
        changed = changed.filter(
            F.coalesce(F.col("prior_hash") != F.col("source_hash"), F.lit(True))
        )
    changed = changed.withColumn("stored", F.col("prior_hash").isNotNull()).drop("prior_hash")
    if limit is not None:
        changed = changed.orderBy("doc_id").limit(limit)
    return changed


def identify_removed(manifest: DataFrame, processed_state: DataFrame) -> DataFrame:
    """Documents flagged removed upstream (op 4; lovlig.py:122-123), with
    ``stored`` as in ``identify_changed``."""
    removed = _with_prior_hash(manifest.filter(F.col("status") == "removed"), processed_state)
    return removed.withColumn("stored", F.col("prior_hash").isNotNull()).drop("prior_hash")


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    tie_col: str,
) -> DataFrame:
    """Change-history (SCD Type 2) intervals from an event log →
    (key, attr, valid_from, valid_to, first_tie, n_events, is_current),
    where ``first_tie`` is the interval's first ``tie_col`` value —
    kept in the output so (key, valid_from, first_tie) is a unique,
    deterministic total order even when timestamp ties span intervals.

    The state-store keeps only the LATEST row per document (reference:
    ``infrastructure/file_document_state_repository.py`` upsert); the
    warehouse-grade history form is slowly-changing-dimension type 2 —
    one row per *run* of consecutive equal attribute values, valid from
    its first event until the next change (NULL / is_current for the
    open interval).

    Consecutive equal values are consolidated with the gaps-and-islands
    identity (rn_by_key − rn_by_key_and_attr is constant exactly within
    a run), then ``lead(valid_from)`` closes each interval. Both
    row_numbers ride the SAME (key × time) sort, so the plan is one
    shuffle on the key, one sort, two window passes, one aggregate and
    one final per-key lead over the (much smaller) island table.
    Per-key window partitions hold one key's events — the
    key-cardinality parallelism every event-log query here uses.

    Determinism: ordering ties break on ``tie_col`` (a unique event
    id); island boundaries and lead ordering then inherit uniqueness
    via (valid_from, first tie value).
    """
    from pyspark.sql import Window

    w_key = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    w_key_attr = Window.partitionBy(key_col, attr_col).orderBy(ts_col, tie_col)
    islands = (
        df.select(key_col, ts_col, attr_col, tie_col)
        .withColumn(
            "_grp", F.row_number().over(w_key) - F.row_number().over(w_key_attr)
        )
        .groupBy(key_col, attr_col, "_grp")
        .agg(
            F.min(ts_col).alias("valid_from"),
            # The tie of the island's chronologically FIRST event in
            # (ts, tie) order — NOT min(tie) over the island: when
            # timestamps tie across islands, an island could inherit a
            # smaller tie from a LATER event and interleave wrongly in
            # the w_island ordering below (breaking valid_to chains and
            # is_current placement).
            F.min_by(tie_col, F.struct(ts_col, tie_col)).alias("first_tie"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w_island = Window.partitionBy(key_col).orderBy("valid_from", "first_tie")
    return islands.select(
        key_col,
        attr_col,
        "valid_from",
        F.lead("valid_from").over(w_island).alias("valid_to"),
        "first_tie",
        "n_events",
    ).withColumn("is_current", F.col("valid_to").isNull())
