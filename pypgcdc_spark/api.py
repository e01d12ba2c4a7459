"""Public engine API — the library surface a reference user lands on.

Twin of the reference's embedding entry point (SURVEY §3.2:
``LogicalReplicationReader(...)`` + ``consume_stream``): here the handle is
a :class:`PgCdcEngine` whose methods return DataFrames/StreamingQueries, so
every downstream capability (joins, aggregation, windows, SQL, the
extension operators) is the full Spark surface instead of a callback sink.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pypgcdc_spark.cdc.apply import DeleteAwareMerger, current_state, typed_state
from pypgcdc_spark.cdc.models import TableSchema
from pypgcdc_spark.sources.pgcdc import PgCdcDataSource, scan_log


def _copy_unescape_col(c):
    """COPY text-format field → value, executor-side with built-in
    functions (JVM, whole-stage codegen): the exact twin of
    ``sources.pgwire._copy_unescape``.  ``\\\\`` is rewritten to a NUL
    sentinel first (Postgres text values can never contain NUL), so an
    escaped backslash followed by ``t`` correctly yields two literal
    characters, not a TAB; the raw ``\\N`` marker (checked before any
    unescaping) is NULL."""
    x = F.replace(c, F.lit("\\\\"), F.lit("\x00"))
    for esc, ch in (
        ("\\t", "\t"),
        ("\\n", "\n"),
        ("\\r", "\r"),
        ("\\b", "\b"),
        ("\\f", "\f"),
        ("\\v", "\v"),
    ):
        x = F.replace(x, F.lit(esc), F.lit(ch))
    x = F.replace(x, F.lit("\x00"), F.lit("\\"))
    return F.when(c == F.lit("\\N"), F.lit(None).cast("string")).otherwise(x)


class PgCdcEngine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        spark.dataSource.register(PgCdcDataSource)

    # -- sources ---------------------------------------------------------
    def stream(
        self,
        path: str,
        max_tx_per_batch: int = 0,
        num_partitions: Optional[int] = None,
        emit_messages: bool = False,
        consumer: str | None = None,
    ) -> DataFrame:
        """Streaming change-event envelope (flat schema, models.ENVELOPE_DDL).
        ``num_partitions`` caps each micro-batch's decode partitions
        (default ``defaultParallelism``); below the cap the batch's byte
        span decides, one partition per 256 KiB floor, so a small live
        batch runs as one task.  ``emit_messages=True`` surfaces
        pg_logical_emit_message frames as op='M' rows (the
        transactional-outbox pattern).  ``consumer`` names this reader so
        N independent materializers can share one replay log — retention
        then runs at the min ack across consumers (the replication-slot
        model; see sources/pgcdc.py)."""
        reader = (
            self.spark.readStream.format("pgcdc")
            .option("path", path)
            .option(
                "numPartitions",
                str(num_partitions or self.spark.sparkContext.defaultParallelism),
            )
        )
        if max_tx_per_batch:
            reader = reader.option("maxTxPerBatch", str(max_tx_per_batch))
        if emit_messages:
            reader = reader.option("emitMessages", "true")
        if consumer:
            reader = reader.option("consumer", consumer)
        return reader.load()

    def snapshot(self, path: str, emit_messages: bool = False) -> DataFrame:
        """Batch read of the full change log (initial-sync path, S3),
        partitioned like :meth:`stream` under its default cap."""
        reader = (
            self.spark.read.format("pgcdc")
            .option("path", path)
            .option("numPartitions", str(self.spark.sparkContext.defaultParallelism))
        )
        if emit_messages:
            reader = reader.option("emitMessages", "true")
        return reader.load()

    # -- transforms -------------------------------------------------------
    @staticmethod
    def with_envelope_structs(df: DataFrame) -> DataFrame:
        """Regroup the flat source columns into the nested envelope
        (FIXTURES.md §7 shape: tx/source structs)."""
        return df.select(
            "op",
            "lsn",
            F.struct("tx_id", "begin_lsn", "commit_lsn", "commit_ts").alias("tx"),
            F.struct("database", "namespace", "table").alias("source"),
            "key",
            "before",
            "after",
        )

    @staticmethod
    def current_state(env: DataFrame, key_fields=None) -> DataFrame:
        return current_state(env, key_fields)

    @staticmethod
    def typed_view(env: DataFrame, schema: TableSchema) -> DataFrame:
        return typed_state(env, schema)

    # -- SQL surface -------------------------------------------------------
    def register_tables(self, sf_dir: str) -> None:
        """Register every fixture table as a temp view → full spark.sql
        access (the engine's SQL front door)."""
        from pypgcdc_spark.queries import TABLES, load

        for name, df in zip(TABLES, load(self.spark, sf_dir, *TABLES)):
            df.createOrReplaceTempView(name)

    def register_cdc_views(self, log_path: str, prefix: str = "") -> list:
        """Register the envelope plus a typed current-state view per table
        found in the log; returns the view names."""
        registry, _ = scan_log(log_path)
        env = self.snapshot(log_path)
        env.createOrReplaceTempView(f"{prefix}cdc_envelope")
        names = [f"{prefix}cdc_envelope"]
        for schema in registry.tables():
            view = f"{prefix}{schema.table}_current"
            typed_state(env, schema).createOrReplaceTempView(view)
            names.append(view)
        # Schema-evolution history: one typed view per version SPAN for
        # relations that changed shape mid-log (each row typed by the
        # version in force at its LSN — get_at_lsn, not latest-wins).
        from pypgcdc_spark.cdc.apply import typed_history_span

        for (_db, _rid), chain in registry._versions.items():
            if len(chain) < 2:
                continue
            for k, v in enumerate(chain):
                hi = chain[k + 1].first_lsn if k + 1 < len(chain) else None
                view = f"{prefix}{v.schema.table}_history_v{v.version}"
                typed_history_span(env, v.schema, v.first_lsn, hi).createOrReplaceTempView(
                    view
                )
                names.append(view)
        return names

    # -- sinks -------------------------------------------------------------
    def bootstrap(self, seed, schema: TableSchema, target_path: str) -> DataFrame:
        """Seed the current-state table from a consistent snapshot, so a
        subsequent ``materialize(stream, schema, target_path, ...)``
        merges the change stream exactly on top: the exported snapshot
        guarantees no gap and no overlap (reference S2/S3).

        ``seed`` is either a COPY spool — a directory path (or
        :class:`~pypgcdc_spark.sources.pgwire.CopySpool`) produced by
        ``WireReplicationTailer.initial_sync_to_spool`` — or, for small
        tables/tests, a driver list of text-format tuples from
        ``initial_sync``.

        The spool path is the 100 TB one: chunk files become input
        splits of a distributed ``spark.read.text``; COPY text parsing
        (tab split, escape reversal, ``\\N`` → NULL) and typing through
        the registered StructType run entirely executor-side with
        built-in functions — the driver never materializes a row."""
        from pyspark.sql import types as T

        struct = schema.to_struct_type()
        spool_dir = getattr(seed, "spool_dir", seed)
        if isinstance(spool_dir, str):
            fields = F.split(F.col("value"), "\t")
            raw = self.spark.read.text(spool_dir).select(
                *[
                    _copy_unescape_col(fields.getItem(i)).alias(f.name)
                    for i, f in enumerate(struct.fields)
                ]
            )
        else:
            str_schema = T.StructType(
                [T.StructField(f.name, T.StringType()) for f in struct.fields]
            )
            raw = self.spark.createDataFrame([tuple(r) for r in seed], str_schema)
        typed = raw.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in struct.fields]
        )
        typed.write.mode("overwrite").parquet(target_path)
        return self.spark.read.parquet(target_path)

    def materialize(
        self,
        env_stream: DataFrame,
        schema: TableSchema,
        target_path: str,
        checkpoint: str,
        drain: bool = True,
        n_buckets: int | str | None = None,
        target_bucket_bytes: int | None = None,
    ):
        """Continuously merge the change stream into a current-state table
        (the reference DataStore's job, done as foreachBatch MERGE).

        With ``drain=True`` processes everything currently in the log
        through as many rate-limited micro-batches as needed, then stops
        (Python sources don't support Trigger.AvailableNow in Spark 4.1,
        so this uses ``processAllAvailable`` — same semantics as the
        reference's ``consume_stream(max_count=...)`` loop, K6).

        ``n_buckets=N`` switches the sink to hash-bucketed state with
        touched-bucket dynamic overwrite — O(touched buckets) per batch
        instead of O(state); use it when the current-state table is
        large.  The table gains ``_bucket`` (partition) and ``_kraw``
        (wire-key bytes, the bucket-hash input) columns — drop them when
        reading, or read specific columns.  ``n_buckets="auto"`` (r9)
        additionally derives and grows the bucket count from the state's
        on-disk volume (power-of-two rebucket on threshold crossing,
        layout persisted in ``_nbuckets.json``).
        """
        merger = DeleteAwareMerger(
            self.spark,
            schema,
            target_path,
            n_buckets=n_buckets,
            target_bucket_bytes=target_bucket_bytes,
        )
        writer = (
            env_stream.writeStream.foreachBatch(merger)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
        )
        query = writer.start()

        def stop_and_cancel(timeout: int = 60) -> None:
            """Stop the stream AND cancel in-flight merge jobs.

            ``StreamingQuery.stop()`` alone leaves jobs the foreachBatch
            body started running (ADVICE r10) — an orphaned merge attempt
            can then race a restarted merger on the same target dir.
            """
            query.stop()
            merger.cancel_pending()
            query.awaitTermination(timeout)

        # Library users going through the non-drain path stop via this
        # helper instead of query.stop() (the soak harness does).
        query.stop_and_cancel = stop_and_cancel
        if drain:
            query.processAllAvailable()
            stop_and_cancel()
        return query
