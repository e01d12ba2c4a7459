"""Apply-changes materializer: change envelope -> queryable current state.

This is the engine's core CDC operator (SURVEY §7.1): the Spark-native
answer to what the reference's ``DataStore`` sink would do with the event
stream (``stores.py:43-118``), expressed as pure DataFrame transforms so
Catalyst plans it (window dedup is a single shuffle on the key; at 100 TB
the shuffle is partitioned by (table, key) which is exactly the MERGE key,
and AQE handles key skew).

Semantics implemented (and oracle-checkable in ANSI SQL):

* per-key last-writer-wins by total LSN order — ``row_number() OVER
  (PARTITION BY table, key ORDER BY lsn DESC) = 1``;
* a latest op of ``D`` removes the row;
* ``T`` (truncate) drops every row of that table with a smaller LSN —
  a *working* truncate, unlike the reference's dead code path (Q3,
  ``reader.py:386-398``);
* TOAST ``'u'`` columns carry the previous value forward (Q6) — within the
  batch via an ordered ``last()`` window, across batches via coalesce with
  the existing target row.

At cluster scale the target would be a Delta/Iceberg table and the merge a
real ``MERGE INTO``; this repo has no lake-format jars (TESTDATA env), so
``merge_into_parquet`` emulates the idempotent merge with
baseline-union + window dedup + overwrite, which is replay-safe
(at-least-once delivery → exactly-once table state).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pypgcdc_spark.cdc.models import TOAST_UNCHANGED, TableSchema
from pypgcdc_spark.operators.churn import AutoBuckets
from pypgcdc_spark.operators.relayout import (
    dataset_bytes,
    load_layout,
    recover_relayout,
    save_layout,
    staged_relayout,
)


def _truncate_filter(env: DataFrame) -> DataFrame:
    """Drop rows truncated away: any row of table t with lsn < max T-lsn."""
    trunc = (
        env.filter(F.col("op") == "T")
        .select(
            F.col("namespace").alias("_t_ns"),
            F.col("table").alias("_t_tbl"),
            "lsn",
        )
        .groupBy("_t_ns", "_t_tbl")
        .agg(F.max("lsn").alias("_trunc_lsn"))
    )
    # Truncate sets are tiny (DDL-rate, not data-rate): always broadcast.
    return (
        env.filter(F.col("op") != "T")
        .join(
            F.broadcast(trunc),
            (F.col("namespace") == F.col("_t_ns")) & (F.col("table") == F.col("_t_tbl")),
            "left",
        )
        .filter((F.col("_trunc_lsn").isNull()) | (F.col("lsn") > F.col("_trunc_lsn")))
        .drop("_t_ns", "_t_tbl", "_trunc_lsn")
    )


def current_state(env: DataFrame, key_fields: Optional[List[str]] = None) -> DataFrame:
    """Generic (untyped) current state over a flat envelope DataFrame.

    ``env`` columns per models.ENVELOPE_DDL. The dedup key is the ``key``
    map (already pkey-projected by the source, reference T5
    ``reader.py:230-241``) unless explicit ``key_fields`` into ``after``
    are given.
    """
    env = _truncate_filter(env)
    key_expr = (
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in key_fields]),
            F.array(*[F.col("after").getItem(k) for k in key_fields]),
        )
        if key_fields
        else F.col("key")
    )
    # MAP isn't orderable/partitionable: canonicalize to a sorted-entry JSON
    # string (stable shuffle key; at scale this is also the bucket key).
    keyed = env.withColumn(
        "_k", F.to_json(F.array_sort(F.map_entries(key_expr)))
    )
    w = Window.partitionBy("namespace", "table", "_k").orderBy(
        F.col("lsn").desc()
    )
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
        .drop("_rn", "_k")
    )


def typed_state(
    env: DataFrame,
    schema: TableSchema,
    json_as_variant: bool = False,
    passthrough: Optional[List[str]] = None,
) -> DataFrame:
    """Current state of one table as typed columns (the reference's
    ``table_model(**after)`` coercion, reader.py:274-292, done by Catalyst
    casts instead of pydantic).

    Includes in-batch TOAST carry-forward: a column whose wire category was
    'u' takes the most recent real value for the same key at a lower LSN.

    ``json_as_variant=True`` materializes json/jsonb columns as Spark 4
    VariantType (``parse_json``) instead of raw strings — queryable with
    ``variant_get`` path extraction without reparsing per query (the
    engine-native analog of the reference's pydantic ``Json`` coercion,
    reader.py:67-68).
    """
    key_cols = schema.get_key_columns()
    struct = schema.to_struct_type()

    df = _truncate_filter(
        env.filter(
            (F.col("namespace") == schema.namespace)
            & (F.col("table") == schema.table)
        )
    )

    # Extract text values per column; key columns come from `key` for D rows.
    for f in struct.fields:
        raw = F.col("after").getItem(f.name)
        if f.name in key_cols:
            raw = F.coalesce(raw, F.col("key").getItem(f.name))
        df = df.withColumn(f"_raw_{f.name}", raw)

    # TOAST carry-forward: last non-'u' value per key in LSN order. The
    # struct() wrapper distinguishes a genuine NULL (non-null struct holding
    # NULL) from "skip this row" (NULL struct) for last(ignorenulls).
    wff = (
        Window.partitionBy(*[F.col(f"_raw_{k}") for k in key_cols])
        .orderBy("lsn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for f in struct.fields:
        if f.name in key_cols:
            continue
        raw = F.col(f"_raw_{f.name}")
        # NULL-safe TOAST test: a genuine NULL must produce a non-null
        # struct (so last() takes it), not a NULL comparison that last()
        # skips — otherwise an UPDATE setting a column to NULL silently
        # keeps the previous value (ADVICE r1).
        carried = F.last(
            F.when(
                raw.isNull() | (raw != F.lit(TOAST_UNCHANGED)),
                F.struct(raw.alias("v")),
            ),
            ignorenulls=True,
        ).over(wff)["v"]
        df = df.withColumn(f"_raw_{f.name}", carried)

    wdedup = Window.partitionBy(*[F.col(f"_raw_{k}") for k in key_cols]).orderBy(
        F.col("lsn").desc()
    )
    df = (
        df.withColumn("_rn", F.row_number().over(wdedup))
        .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
    )
    json_cols = {
        c.name for c in schema.column_definitions if c.type_name in ("json", "jsonb")
    }

    def out_col(f):
        raw = F.col(f"_raw_{f.name}")
        if json_as_variant and f.name in json_cols:
            return F.parse_json(raw).alias(f.name)
        return raw.cast(f.dataType).alias(f.name)

    # `passthrough` columns ride along un-typed (e.g. the merger's
    # `_bucket` partition key, a pure function of the wire key strings —
    # constant within a key's window group, so the rn=1 row's value is
    # THE value).
    extra = [F.col(c) for c in (passthrough or [])]
    return df.select(*[out_col(f) for f in struct.fields], *extra)


def typed_history_span(
    env: DataFrame, schema: TableSchema, lo_lsn: int, hi_lsn: Optional[int] = None
) -> DataFrame:
    """Envelope rows of one LSN span typed through ONE schema version —
    the history view behind LSN-span schema evolution (a row is typed by
    the version in force when it happened, not latest-wins; the
    cdc_schema_evolution_typed gate row pins the semantics).  No LWW
    collapse: every change in the span surfaces with its op/lsn/tx
    context plus the version's typed columns."""
    df = env.filter(
        (F.col("table") == schema.table) & (F.col("lsn") >= F.lit(lo_lsn))
    )
    if hi_lsn is not None:
        df = df.filter(F.col("lsn") < F.lit(hi_lsn))
    struct = schema.to_struct_type()
    return df.select(
        "op",
        "lsn",
        "tx_id",
        "commit_ts",
        *[F.col("after")[f.name].cast(f.dataType).alias(f.name) for f in struct.fields],
    )


class DeleteAwareMerger(AutoBuckets):
    """foreachBatch-compatible merger keeping parquet current-state tables.

    Usage::

        merger = DeleteAwareMerger(spark, registry, out_dir)
        stream.writeStream.foreachBatch(merger).start()

    Idempotent under micro-batch replay (overwrite of a deterministic
    function of target ∪ batch).  On a lake format this becomes
    ``MERGE INTO target USING batch ON keys WHEN MATCHED ...``.

    SINGLE WRITER ASSUMED (the same contract a foreachBatch sink always
    carries): replay-idempotence covers sequential redelivery, not two
    attempts mutating the target CONCURRENTLY.  Note that
    ``StreamingQuery.stop()`` cancels the stream's own job group but NOT
    jobs the Python foreachBatch body started — a restart while a
    long merge attempt is still running creates exactly that race
    (found by the r10 soak).  r11: every merge job runs under a
    per-merger job group; ``cancel_pending()`` kills in-flight attempts,
    and the engine's ``materialize`` attaches a ``stop_and_cancel``
    helper to the returned query that does stop + cancel + await.
    ``operators/atomic_state.ManifestState`` tolerates concurrent
    attempts by construction (append-only attempt dirs, one manifest
    rename wins) — prefer it where overlapping attempts are possible.

    Two I/O shapes:

    * ``n_buckets=None`` (default): whole-table overwrite — fine for
      small current-state tables, O(state) per batch.
    * ``n_buckets=N``: state is ONE parquet dataset partitioned by
      ``_bucket = xxhash64(wire key strings) % N``; each batch reads
      back only the buckets its keys touch (static ``isin`` partition
      filter from the collected batch bucket ids — bounded metadata, ≤ N
      ints) and rewrites only those via dynamic partition overwrite.
      Per-batch cost is O(touched buckets), not O(state) — the same
      discipline as the IVM maintainers, applied to the generic CDC
      apply path, which until round 8 was the engine's one remaining
      O(state)-per-batch sink (found by sizing the large-state soak).
      The bucket is computed ONCE per key from the envelope's wire key
      strings (deterministic transform rendering) and thereafter carried
      as a stored column — typed-value re-rendering never enters it;
      the raw concatenated key string rides along as ``_kraw`` so a
      REBUCKET can recompute buckets from the exact original bytes.
    * ``n_buckets="auto"``: like bucketed, but the bucket count is
      derived from the state's on-disk volume and per-batch key churn
      (power-of-two, grow-only — the shared ``churn.AutoBuckets``
      policy) and persisted in a ``_nbuckets.json`` meta sidecar inside
      the dataset, so a restarted stream resumes with the same layout.
      Growth triggers ONE full rewrite into the new bucket count (the
      amortized cost a lake table pays for re-clustering); 4.95M state
      rows at a fixed 64 buckets gave p50 27.5s batches in the r8 soak —
      bucket count must track state volume, not be a knob.

    Two bucketed-mode correctness subtleties (ADVICE r8, both pinned by
    tests):

    * dynamic partition overwrite only replaces partitions PRESENT in
      the written data — a touched bucket whose every key was deleted
      produces no rows, so its stale partition directory must be removed
      explicitly or the deleted keys resurrect on the next read;
    * a TRUNCATE ('T') envelope row has no key, so it hashes into one
      arbitrary bucket — the merge must treat EVERY existing bucket as
      touched for that batch (truncate is table-wide by definition).
    """

    MIN_BUCKETS = 8

    def __init__(
        self,
        spark: SparkSession,
        schema: TableSchema,
        target_path: str,
        n_buckets=None,
        target_bucket_bytes: Optional[int] = None,
    ):
        self.spark = spark
        self.schema = schema
        self.target_path = target_path
        #: every Spark job this merger starts runs under this job group so
        #: a stopping caller can cancel in-flight merge attempts —
        #: StreamingQuery.stop() does NOT (see class docstring).
        import uuid as _uuid

        self.job_group = "pypgcdc-merge-" + _uuid.uuid4().hex[:12]
        # A prior process may have died mid-rebucket; converge the on-disk
        # layout to exactly one committed generation before reading it.
        recover_relayout(self.target_path)
        # Auto mode resumes the bucket count and the churn EWMA from the
        # layout sidecar (operators/churn.AutoBuckets).
        self._init_buckets(n_buckets, target_bucket_bytes, load_layout(target_path))

    def _existing_buckets(self) -> list:
        import os

        try:
            return sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(self.target_path)
                if d.startswith("_bucket=")
            )
        except (OSError, ValueError):
            return []

    # -- key hashing ------------------------------------------------------

    def _kraw_expr(self):
        """The wire key rendered to one string — THE bucket-hash input.
        Computed once from the envelope's key map and stored, so every
        later bucket computation (including rebucketing) hashes the exact
        original bytes, never a typed-value re-rendering."""
        key_cols = self.schema.get_key_columns()
        return F.concat_ws("\x1f", *[F.col("key").getItem(k) for k in key_cols])

    @staticmethod
    def _bucket(n: int):
        return F.pmod(F.xxhash64(F.col("_kraw")), F.lit(n)).cast("int")

    # -- crash-atomic rebucket (operators/relayout.py) ---------------------

    def _state_bytes(self) -> int:
        return dataset_bytes(self.target_path)

    def _relayout(self, new_n: int, record: dict) -> None:
        """Rewrite the WHOLE dataset once under ``new_n`` buckets.  The
        stored ``_kraw`` strings are the hash input, so old and new
        layouts hold bit-identical rows — only the partition assignment
        changes (pinned by test_bucketed_merger_rebucket_equivalence).
        Crash-safe: the relaid dataset is staged beside the live one and
        swapped in by ``staged_relayout``; a kill at ANY point converges
        via ``recover_relayout`` on restart."""
        staged_relayout(
            self.spark,
            self.target_path,
            "_bucket",
            lambda df: df.withColumn("_bucket", self._bucket(new_n)),
            record,
            fault=self._fault,
        )

    def cancel_pending(self) -> None:
        """Cancel any in-flight merge jobs this merger started.

        ``StreamingQuery.stop()`` cancels the stream's own job group but
        not jobs the Python foreachBatch body launched (ADVICE r10) — a
        restart while a long merge attempt is still running would race it
        on the target dir.  Callers stopping the stream mid-batch (the
        engine's ``materialize`` drain path does this automatically) call
        this right after ``stop()``.
        """
        self.spark.sparkContext.cancelJobGroup(self.job_group)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        import os
        import shutil

        # foreachBatch bodies run on their own thread; the job group is
        # thread-local, so tagging here scopes every job below (the
        # metadata collect, the merge write, a rebucket relay) to this
        # merger — cancellable via cancel_pending().
        self.spark.sparkContext.setJobGroup(
            self.job_group, f"pypgcdc merge batch {epoch_id} -> {self.target_path}"
        )
        env = batch_df
        key_cols = self.schema.get_key_columns()
        struct = self.schema.to_struct_type()
        bucketed = self.n_buckets is not None
        touched: list = []
        has_truncate = False
        if bucketed:
            env = env.withColumn("_kraw", self._kraw_expr()).withColumn(
                "_bucket", self._bucket(self.n_buckets)
            )
            # ONE bounded collect covers the touched-bucket ids, the
            # truncate flag AND the batch's distinct-key count (the churn
            # observation — keys never span buckets, so the per-bucket
            # HLL++ sums add exactly; ≤ n_buckets rows of metadata).
            meta = (
                env.select("_bucket", (F.col("op") == "T").alias("_t"), "_kraw")
                .groupBy("_bucket")
                .agg(
                    F.max("_t").alias("_t"),
                    F.approx_count_distinct("_kraw").alias("_k"),
                )
                .collect()
            )
            if not meta:
                # Idle micro-batch: the metadata collect doubles as the
                # empty probe (the separate isEmpty() action cost one
                # extra Spark job per batch).
                return
            touched = sorted(r._bucket for r in meta)
            has_truncate = any(r._t for r in meta)
            self._observe_keys(sum(r._k for r in meta))
            if has_truncate:
                # TRUNCATE is table-wide: every bucket that exists on disk
                # is in the merge window, or stale rows survive in buckets
                # the 'T' row didn't hash into (ADVICE r8).
                touched = sorted(set(touched) | set(self._existing_buckets()))
        try:
            target = self.spark.read.parquet(self.target_path)
            exists = True
        except Exception:
            target = None
            exists = False

        if exists and target is not None:
            if bucketed:
                # Only the touched buckets re-enter the merge window; the
                # stored _bucket/_kraw columns are reused verbatim (never
                # recomputed from typed values).
                target = target.filter(F.col("_bucket").isin(touched))
            # Baseline rows re-enter the window as lsn=-1 'I' events so one
            # dedup pass resolves batch-vs-existing and TOAST coalesce.
            baseline = target.select(
                F.lit("I").alias("op"),
                F.lit(-1).cast("bigint").alias("lsn"),
                F.lit(None).cast("bigint").alias("tx_id"),
                F.lit(None).cast("bigint").alias("begin_lsn"),
                F.lit(None).cast("bigint").alias("commit_lsn"),
                F.lit(None).cast("timestamp").alias("commit_ts"),
                F.lit(self.schema.db).alias("database"),
                F.lit(self.schema.namespace).alias("namespace"),
                F.lit(self.schema.table).alias("table"),
                F.map_from_arrays(
                    F.array(*[F.lit(k) for k in key_cols]),
                    F.array(*[F.col(k).cast("string") for k in key_cols]),
                ).alias("key"),
                F.lit(None).cast("map<string,string>").alias("before"),
                F.map_from_arrays(
                    F.array(*[F.lit(f.name) for f in struct.fields]),
                    F.array(*[F.col(f.name).cast("string") for f in struct.fields]),
                ).alias("after"),
                *([F.col("_bucket"), F.col("_kraw")] if bucketed else []),
            )
            env = baseline.unionByName(env.select(baseline.columns))

        if bucketed:
            state = typed_state(
                env, self.schema, passthrough=["_bucket", "_kraw"]
            ).localCheckpoint(eager=True)
            # Replace ONLY the touched partitions (checkpoint first: the
            # plan reads the same path it overwrites).  Repartitioned by
            # the bucket column so the write emits one file per touched
            # dir, not tasks x dirs tiny files (r12 dir-cost probe: 12x).
            # Dynamic overwrite is a write option, so the session (and a
            # static-overwrite merger sharing it) keeps its own mode.
            state.repartition(F.col("_bucket")).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("_bucket").parquet(self.target_path)
            # Dynamic overwrite only replaces partitions PRESENT in the
            # written data.  A touched bucket with zero surviving rows
            # (batch deleted its every key, or a truncate emptied it)
            # keeps its OLD files on disk — and the deleted keys would
            # resurrect on the next read (ADVICE r8).  Diff and remove.
            present = {
                r._bucket for r in state.select("_bucket").distinct().collect()
            }
            for b in set(touched) - present:
                shutil.rmtree(
                    os.path.join(self.target_path, f"_bucket={b}"),
                    ignore_errors=True,
                )
            if self.auto:
                save_layout(self.target_path, self._layout_record())
                self._maybe_rebucket()
            return
        state = typed_state(env, self.schema)
        # Small current-state tables write single-file; at scale the
        # bucketed mode above partitions by a stable hash of the key.
        state.write.mode("overwrite").parquet(self.target_path)
