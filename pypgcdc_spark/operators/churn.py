"""Churn-aware bucket sizing for bucketed streaming state.

The r11 5M-row soak measured the failure mode this module closes: a
bucketed state table sized by VOLUME alone (mean bucket size under a
byte target) still rewrites ~the whole table every micro-batch when the
batch's key churn is high relative to the bucket count.  With ``K``
distinct keys per batch hashed over ``B`` buckets, the expected touched
buckets are

    touched(K, B) = B * (1 - e^(-K/B))

so rows rewritten per batch ~= state_rows * (1 - e^(-K/B)).  At the
soak's measured churn (K~2000, B=1024) that is 1 - e^(-2) ~= 86% of a
5M-row table per 200-tx batch — an IVM degraded to a recompute.  The
fix is the artifact's own formula: keep ``B >= factor * K`` (factor
4-8), which bounds the rewritten fraction to ``1 - e^(-1/factor)``
(~12% at factor 8) and the touched-file count to ~K per batch
(``touched -> K`` as ``B >> K``).

This module provides the shared pieces the sinks use to apply that rule
*adaptively* — none of them asks the caller to know the churn rate:

* :func:`touched_buckets_and_keys` — the per-batch observation: the
  batch's distinct bucket ids (the same bounded metadata the static
  partition-pruning path already collected — state_prune.py) AND its
  approximate distinct-key count, in ONE driver collect.
* :class:`ChurnEwma` — a smoothed keys-per-batch estimate, serializable
  into each sink's existing layout-metadata sidecar so a restarted
  stream resumes with its churn knowledge.
* :func:`recommend_buckets` — the combined sizing rule: grow-only,
  power-of-two, ``max(bytes_rule, churn_rule)``, with the churn rule
  capped so it never fragments a small state into absurdly tiny buckets
  (a bulk load's 50k-key batches must not inflate a 10 MB table to
  half a million files — during bulk loads rewriting most of state is
  genuinely unavoidable and bucket count is irrelevant to row I/O).

* :class:`AutoBuckets` — the auto bucket-count policy itself, the one
  copy every bucketed state maintainer inherits: parse ``n_buckets``
  (an int, or ``"auto"``), restore count + EWMA from the committed
  layout record ``{"n_buckets", "keys_ewma"}``, build that record, and
  grow through :func:`recommend_buckets`.

Consumers: ``cdc/apply.DeleteAwareMerger`` and
``operators/ivm.BucketedViewMaintainer`` (plain-parquet state: the record
is the dataset's ``_nbuckets.json`` sidecar, a relayout commits through
``relayout.staged_relayout``), ``operators/join_ivm.JoinViewMaintainer``
and the soak harness's ``SoakAggMaintainer`` (manifest state: the record
is the manifest's ``extra["layout"]``, a relayout commits through
``ManifestState.replace_all``).  Each keeps only its bucket floor, its
state-bytes measure, its bucket expression and that commit.
"""

from __future__ import annotations

import math
from typing import List, Optional, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: buckets >= CHURN_FACTOR x distinct-keys-per-batch (EWMA) — bounds the
#: per-batch rewritten fraction of state to 1 - e^(-1/factor) (~12%).
CHURN_FACTOR = 8
#: churn growth never pushes the MEAN bucket below this many bytes.  The
#: floor is the measured dir/row cost crossover (r12 probe, one-file-per-
#: dir writes + committer v2): a touched bucket dir costs ~5 ms of
#: write-commit + listing overhead vs ~5.5 us per rewritten state row, so
#: buckets under ~1k rows (~32 KB) trade cheap row I/O for expensive file
#: ops — and total-dir discovery cost is O(buckets) per read on top.
MIN_CHURN_BUCKET_BYTES = 32 << 10
#: hard ceiling on churn-driven growth (the byte rule has no ceiling —
#: volume genuinely needs buckets; churn past this is batch-size misconfig).
MAX_CHURN_BUCKETS = 1 << 17
#: EWMA smoothing: ~the last 6 batches dominate, one outlier batch can't
#: trigger a relayout on its own.
EWMA_ALPHA = 0.3
#: auto mode's volume rule: grow while the mean bucket exceeds this.
TARGET_BUCKET_BYTES = 128 << 20


def next_pow2(n: int) -> int:
    """Smallest power of two >= max(n, 1)."""
    n = max(int(n), 1)
    return 1 << (n - 1).bit_length()


def prev_pow2(n: int) -> int:
    """Largest power of two <= max(n, 1)."""
    n = max(int(n), 1)
    return 1 << (n.bit_length() - 1)


def expected_touched(keys: float, buckets: int) -> float:
    """E[#buckets hit] by ``keys`` uniform-hashed keys over ``buckets``."""
    if buckets <= 0:
        return 0.0
    return buckets * (1.0 - math.exp(-float(keys) / buckets))


class ChurnEwma:
    """Exponentially-weighted moving average of distinct keys per batch.

    ``value`` is ``None`` until the first observation; serialize with
    ``float(ewma)``-style round trips via the ``value`` attribute.
    """

    def __init__(self, alpha: float = EWMA_ALPHA, value: Optional[float] = None):
        self.alpha = alpha
        self.value = value

    def observe(self, keys: int) -> float:
        k = float(max(int(keys), 0))
        if self.value is None:
            self.value = k
        else:
            self.value = self.alpha * k + (1.0 - self.alpha) * self.value
        return self.value


def recommend_buckets(
    current: int,
    state_bytes: int,
    target_bucket_bytes: int,
    keys_ewma: Optional[float],
    *,
    min_buckets: int = 8,
    churn_factor: int = CHURN_FACTOR,
    min_churn_bucket_bytes: int = MIN_CHURN_BUCKET_BYTES,
    max_churn_buckets: int = MAX_CHURN_BUCKETS,
) -> int:
    """Combined grow-only power-of-two bucket recommendation.

    * **bytes rule** (unchanged from the r8 design): grow while the mean
      bucket exceeds ``target_bucket_bytes`` — tracks state VOLUME.
    * **churn rule** (r11 soak finding): grow to
      ``next_pow2(churn_factor * keys_ewma)`` — tracks per-batch key
      churn — capped at ``state_bytes / min_churn_bucket_bytes`` (churn
      growth must not fragment a small state; the byte-rule result is
      never capped) and ``max_churn_buckets``.

    Returns ``max(current, bytes_rule, capped churn rule)``.
    """
    new_n = max(int(current), int(min_buckets))
    while state_bytes > new_n * target_bucket_bytes:
        new_n *= 2
    if keys_ewma:
        churn_n = next_pow2(int(churn_factor * keys_ewma))
        cap = prev_pow2(state_bytes // max(min_churn_bucket_bytes, 1))
        churn_n = min(churn_n, max(cap, int(min_buckets)), int(max_churn_buckets))
        new_n = max(new_n, churn_n)
    return new_n


class AutoBuckets:
    """Bucket-count policy shared by the bucketed state maintainers.

    ``n_buckets`` is a fixed int, or ``"auto"``: the count starts at the
    subclass's ``MIN_BUCKETS`` and, after each committed batch, grows to
    :func:`recommend_buckets` of the state volume and the keys-per-batch
    EWMA.  Both persist as ONE layout record ``{"n_buckets",
    "keys_ewma"}`` (:meth:`_layout_record`), so a restarted maintainer
    resumes its count and its churn knowledge.  A subclass supplies what
    really differs between maintainers:

    * ``MIN_BUCKETS`` — its bucket floor;
    * ``_state_bytes()`` — the committed state volume;
    * ``_bucket(n)`` — its bucket expression at ``n`` buckets;
    * ``_relayout(new_n, record, *args)`` — rewrite the whole state under
      ``_bucket(new_n)`` and commit it with ``record``, crash-atomically
      (``relayout.staged_relayout`` with :meth:`_fault` as its fault hook,
      or ``ManifestState.replace_all``).
    """

    MIN_BUCKETS: int

    def _init_buckets(self, n_buckets, target_bucket_bytes, saved) -> None:
        """``saved`` is the committed layout record (or None); it is only
        read in auto mode."""
        self.auto = n_buckets == "auto"
        self.target_bucket_bytes = target_bucket_bytes or TARGET_BUCKET_BYTES
        #: churn growth never pushes the mean bucket below this (tunable).
        self.min_churn_bucket_bytes = MIN_CHURN_BUCKET_BYTES
        #: completed relayouts this process: [(old_n, new_n), ...]
        self.rebucket_events: list = []
        #: test-only crash injection point name (see _fault)
        self._relayout_fault: Optional[str] = None
        saved = (saved or {}) if self.auto else {}
        ewma = saved.get("keys_ewma")
        self._churn = ChurnEwma(value=None if ewma is None else float(ewma))
        self.n_buckets = (
            int(saved.get("n_buckets", self.MIN_BUCKETS)) if self.auto else n_buckets
        )

    def _observe_keys(self, keys: int) -> None:
        if self.auto:
            self._churn.observe(keys)

    def _layout_record(self, n_buckets: Optional[int] = None) -> dict:
        rec = {"n_buckets": int(n_buckets or self.n_buckets)}
        if self._churn.value is not None:
            rec["keys_ewma"] = float(self._churn.value)
        return rec

    def _manifest_extra(self, agg_rows, layout: Optional[dict] = None) -> dict:
        """Manifest extras of a manifest-state maintainer: its aggregate
        rows and, in auto mode, the layout record."""
        extra = {"agg": [list(r) for r in agg_rows]}
        if self.auto:
            extra["layout"] = layout or self._layout_record()
        return extra

    def _fault(self, point: str) -> None:
        """Test hook: raising here models process death at this point —
        nothing after the raise runs, exactly like a kill, and recovery
        happens in the next instance's __init__."""
        if self._relayout_fault == point:
            raise RuntimeError(f"injected relayout crash at {point}")

    def _maybe_rebucket(self, *commit_args) -> None:
        """Auto mode, after a committed batch: when the byte rule or the
        churn rule (buckets >= factor x keys/batch EWMA) demands more
        buckets, relay the whole state once under the new count.  The
        bucket is a pure function of a stored column, so the relaid rows
        are identical; only their bucket assignment moves."""
        if not self.auto:
            return
        new_n = recommend_buckets(
            self.n_buckets,
            self._state_bytes(),
            self.target_bucket_bytes,
            self._churn.value,
            min_buckets=self.MIN_BUCKETS,
            min_churn_bucket_bytes=self.min_churn_bucket_bytes,
        )
        if new_n == self.n_buckets:
            return
        self._relayout(new_n, self._layout_record(new_n), *commit_args)
        self.rebucket_events.append((self.n_buckets, new_n))
        self.n_buckets = new_n


def touched_buckets_and_keys(
    batch_df: DataFrame, bucket: Column, key: Column
) -> Tuple[List[int], int]:
    """The batch's distinct bucket ids AND its (approximate) distinct-key
    count, in ONE bounded driver collect.

    Buckets partition the key space (the bucket is a pure function of the
    key), so summing per-bucket ``approx_count_distinct`` never counts a
    key twice — the total inherits only the HLL++ relative error (~2%),
    which is far inside the x8 headroom of the churn factor.  Result size
    is <= n_buckets rows of two ints — the same boundedness class as
    ``state_prune.touched_buckets``, which this supersedes where the
    caller also wants the churn observation.
    """
    rows = (
        batch_df.select(bucket.alias("bucket"), key.alias("_k"))
        .groupBy("bucket")
        .agg(F.approx_count_distinct("_k").alias("_n"))
        .collect()
    )
    return sorted(r.bucket for r in rows), int(sum(r._n for r in rows))
