"""XML corpus source: extracted document tree → documents DataFrame.

Ops 1-3 of the reference (lovlig sync + per-file scan + state flatten,
reference: lovdata_pipeline/lovlig.py:35-136): the download itself is
out-of-engine; Spark's side starts at the extracted tree. ``binaryFile``
gives a distributed scan with file pruning; sha256 comes from ``sha2``
over the raw bytes (JVM-side), matching lovlig's per-file sha256.

Layout assumption: ``<root>/<dataset>/<relative path>.xml`` — dataset is
the first path segment, doc_id the file stem (lovlig.py:87-95). Writing
corpora partitioned by dataset turns the dataset filter (op 8) into
partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def project_corpus_columns(raw: DataFrame, root: str) -> DataFrame:
    """binaryFile rows → documents rows; shared by the batch and
    streaming readers so both derive identical ids/datasets.

    The root is resolved to an absolute path and stripped with plain
    substring arithmetic — no regex, so relative ``--corpus`` paths and
    roots containing regex metacharacters both work.
    """
    abs_root = os.path.abspath(root).rstrip("/")
    prefixes = [f"file:{abs_root}/", f"file://{abs_root}/", f"{abs_root}/"]
    rel = F.col("path")
    for p in prefixes:
        rel = F.when(
            rel.startswith(p), F.expr(f"substring(path, {len(p) + 1})")
        ).otherwise(rel)
    return raw.select(
        F.regexp_extract(rel, r"([^/]+)\.[^./]+$", 1).alias("doc_id"),
        F.split(rel, "/").getItem(0).alias("dataset_name"),
        rel.alias("relative_path"),
        F.col("content").cast("string").alias("xml"),
        F.sha2(F.col("content"), 256).alias("source_hash"),
        F.lit("added").alias("status"),
    )


def read_xml_corpus(spark: SparkSession, root: str, pattern: str = "*.xml") -> DataFrame:
    """Distributed scan of an extracted XML tree → documents rows.

    Columns: doc_id, dataset_name, relative_path, xml, source_hash,
    status (constant 'added'). That is all ``lg process`` needs: its
    identify step left-joins the processed state on doc_id and keeps a
    row unless the stored hash equals ``source_hash``, which tells added,
    modified and unchanged apart. ``manifest_diff``
    assigns the explicit statuses when a caller wants them.
    """
    # resolve relative roots in Python — the JVM's working directory is
    # not the Python process's
    abs_root = os.path.abspath(root)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .option("recursiveFileLookup", "true")
        .load(abs_root)
    )
    return project_corpus_columns(raw, abs_root)


def manifest_diff(current: DataFrame, previous: DataFrame) -> DataFrame:
    """Assign added/modified/removed/unchanged by diffing two manifests.

    The sync-status computation lovlig performs natively (op 1), as one
    full outer join on doc_id:
      new hash, no old row      → added
      hash differs               → modified
      hash equal                 → unchanged
      old row, no new            → removed
    """
    cur = current.select(
        "doc_id", "dataset_name", "relative_path", F.col("source_hash").alias("h_new")
    )
    # carry the previous manifest's location columns too: a removed file
    # has NO current row, so without the coalesce below every "removed"
    # row came out with NULL dataset_name/relative_path even when the
    # previous manifest knew them (r10 review) — consumers grouping
    # removals by dataset would silently misattribute them
    prev = previous.select(
        "doc_id",
        F.col("dataset_name").alias("d_old"),
        F.col("relative_path").alias("p_old"),
        F.col("source_hash").alias("h_old"),
    )
    joined = cur.join(prev, "doc_id", "full_outer")
    status = (
        F.when(F.col("h_old").isNull(), "added")
        .when(F.col("h_new").isNull(), "removed")
        .when(F.col("h_new") != F.col("h_old"), "modified")
        .otherwise("unchanged")
    )
    return joined.select(
        "doc_id",
        F.coalesce(F.col("dataset_name"), F.col("d_old")).alias("dataset_name"),
        F.coalesce(F.col("relative_path"), F.col("p_old")).alias("relative_path"),
        F.coalesce(F.col("h_new"), F.col("h_old")).alias("source_hash"),
        status.alias("status"),
    )
