"""Crash-atomic relayout of a bucket-partitioned parquet state dataset.

The one implementation, used by ``ivm`` and ``cdc.apply``, for state
that lives as ONE plain parquet dataset partitioned by a bucket column
(``BucketedViewMaintainer``, ``DeleteAwareMerger``).  Protocol:

* relaid rows are staged into a sibling ``<path>.rebucket`` dir — the
  live dataset is never written in place and stays readable throughout;
* the stage is marked complete by writing its ``_nbuckets.json`` layout
  sidecar LAST (a stage without the sidecar is by definition incomplete
  and gets discarded on recovery);
* the swap is two renames (live → ``<path>.rebucket.old``, stage →
  live); :func:`recover_relayout` converges every crash window back to
  exactly one committed generation (pinned by test_rebucket_chaos and
  test_churn_adaptive):

  - stage present, live present → the swap never started: discard the
    stage; the growth rule re-fires the relayout;
  - live missing, stage complete → crash between the two renames:
    promote the stage;
  - old generation left behind → crash after the swap: delete it.

ManifestState-backed maintainers don't use this module: their relayout
commits through the manifest protocol itself
(``ManifestState.replace_all`` — one ``os.replace``, same guarantee).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

MARKER = "_nbuckets.json"


def _stage(path: str) -> str:
    return path.rstrip("/") + ".rebucket"


def _old(path: str) -> str:
    return path.rstrip("/") + ".rebucket.old"


def dataset_bytes(path: str) -> int:
    """Bytes of committed parquet under ``path`` (the volume the bucket
    growth rule sizes against)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
    return total


def load_layout(path: str) -> Optional[dict]:
    """The committed layout sidecar (``n_buckets`` + optional
    ``keys_ewma``), or None if the dataset has no layout yet."""
    try:
        with open(os.path.join(path, MARKER)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def save_layout(path: str, record: dict) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, MARKER + ".tmp")
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, os.path.join(path, MARKER))


def recover_relayout(path: str) -> None:
    """Converge a possibly-interrupted relayout (see module docstring):
    stage+live → discard stage; live missing + complete stage → promote
    it; leftover old generation → delete."""
    stage, old = _stage(path), _old(path)
    if os.path.isdir(stage):
        complete = os.path.exists(os.path.join(stage, MARKER))
        if not os.path.isdir(path) and complete:
            os.rename(stage, path)
        else:
            shutil.rmtree(stage, ignore_errors=True)
    if os.path.isdir(old):
        if not os.path.isdir(path):
            raise RuntimeError(
                f"relayout recovery: {path} missing and no complete stage; "
                f"previous generation at {old}"
            )
        shutil.rmtree(old, ignore_errors=True)


def staged_relayout(
    spark: SparkSession,
    path: str,
    partition_col: str,
    transform: Callable[[DataFrame], DataFrame],
    record: dict,
    fault: Optional[Callable[[str], None]] = None,
) -> None:
    """Rewrite the whole dataset at ``path`` through ``transform`` (which
    must emit ``partition_col``) and commit the new ``record`` sidecar —
    crash-atomic per the module protocol.  ``fault`` is the test-only
    injection hook (called with the crash-point name)."""
    from pyspark.sql import functions as F

    fault = fault or (lambda _p: None)
    stage, old = _stage(path), _old(path)
    shutil.rmtree(stage, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    fault("pre_stage")
    # Repartition by the partition column: one file per bucket dir
    # instead of tasks x buckets tiny files (r12 dir-cost probe).
    transform(spark.read.parquet(path)).repartition(
        F.col(partition_col)
    ).write.partitionBy(partition_col).parquet(stage)
    fault("pre_marker")
    tmp = os.path.join(stage, MARKER + ".tmp")
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, os.path.join(stage, MARKER))
    fault("pre_swap")
    os.rename(path, old)
    fault("mid_swap")
    os.rename(stage, path)
    fault("pre_gc")
    shutil.rmtree(old, ignore_errors=True)
