"""The versioned-artifact format: parquet data plus a JSON sidecar.

Every persisted artifact in this engine — IVF and k-NN IVF indexes,
term-bucket postings, the z-order index, CMS/HLL/HDR sketch stores, the
MinHash store, the classifier and BPE tables, SQ8 codes — is a parquet
directory plus a ``_<kind>_params.json`` sidecar inside it. This module
is the only code that names, writes or reads a sidecar:

- the sidecar is written AFTER the data, to a temp file renamed into
  place (``os.replace``), so a sidecar on disk means the data under it
  is complete — the metadata-commit rule of Structured Streaming's file
  sink (SIGMOD 2018);
- every reader passes through one gate: the sidecar's ``version`` and
  any build constants the data depends on (a hash salt, a geometry tag,
  a fixed-point scale) must equal this build's, or the load fails with
  one ``ValueError`` naming the key.

The ``_`` prefix keeps parquet readers from listing the sidecar.

Partitioned indexes (IVF cells, postings buckets, z-order buckets) are
written one data file per partition directory: without a repartition
ON the partition column first, every directory collects one fragment
per upstream task — measured r10: 64 cells x 16 assign tasks = 1,024
files for a 20k-row index, a listing/open-cost explosion at real scale.
Hash partitioning on the column makes each write task own whole
partitions. If a single partition outgrows a healthy file size, raise
the partition count upstream or split on (col, pmod(hash(id), k)) — the
chunk-store discipline.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sidecar_name(kind: str) -> str:
    """File name of ``kind``'s sidecar inside the artifact directory."""
    return f"_{kind}_params.json"


def write_json_atomic(final, obj) -> None:
    """Write ``obj`` as JSON to ``final``: temp file, then an atomic
    rename, so a reader sees the old file or the new one, never a torn
    write."""
    tmp = f"{final}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, final)


def write_sidecar(path: str, kind: str, params: dict) -> None:
    """Commit ``params`` as ``path``'s sidecar, once its data is written."""
    write_json_atomic(os.path.join(path, sidecar_name(kind)), params)


def write_artifact(
    df: DataFrame,
    path: str,
    kind: str,
    params: dict,
    partition_col: str | None = None,
) -> None:
    """Overwrite ``path`` with ``df`` as parquet — partitioned by
    ``partition_col`` with one data file per partition directory when
    given — then commit the sidecar."""
    if partition_col is None:
        df.write.mode("overwrite").parquet(path)
    else:
        df.repartition(F.col(partition_col)).write.mode(
            "overwrite"
        ).partitionBy(partition_col).parquet(path)
    write_sidecar(path, kind, params)


def read_sidecar(
    path: str,
    kind: str,
    version,
    expect: dict | None = None,
    optional: bool = False,
) -> dict | None:
    """Load ``path``'s sidecar and gate it: ``version`` and every
    ``expect`` key must match, else ``ValueError``. With ``optional``,
    a missing sidecar returns None (a bare parquet from before the
    artifact was versioned)."""
    side = os.path.join(path, sidecar_name(kind))
    if optional and not os.path.exists(side):
        return None
    with open(side) as fh:
        params = json.load(fh)
    for key, want in {"version": version, **(expect or {})}.items():
        if params.get(key) != want:
            raise ValueError(
                f"{kind} artifact at {path}: unknown {key} "
                f"{params.get(key)!r}, this build reads {want!r} (rebuild it)"
            )
    return params
