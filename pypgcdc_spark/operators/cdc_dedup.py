"""CDC-maintained near-dup index: incremental MinHash signature upkeep.

The two halves of this engine composed: a CDC change stream over the
document corpus (inserts, text-rewriting updates, deletes) maintains the
MinHash signature index *incrementally* — each micro-batch recomputes
signatures only for the documents it touched and merges them into
bucketed parquet state with dynamic partition overwrite (the same
O(touched-buckets) I/O shape as ``operators/ivm.py``).  A batch engine
would re-shingle the whole corpus after every change; at 100 TB the
index rebuild IS the cost, and this keeps it ∝ changed documents.

The registered query streams a deterministic synthetic change log
(inserts of the corpus, then revisions of doc_id % 7 == 3, then deletes
of doc_id % 13 == 5), and returns the final signature table in long
(doc_id, seed, mh) layout.  The oracle recomputes signatures from
scratch over the *final* corpus state in SQL — hash-matching proves
incremental maintenance ≡ batch recompute, including tombstone handling
and the out-of-order LSN guard.

Reference parity: the reference applies changes to plain key state
(`/root/reference/src/pypgcdc/reader.py:300-331`); maintaining a
*derived index* under CDC is the capability its consumers would build on
top.  Signature math is shared with ``operators/dedup.py`` (same
permutation family, same md5-based h32) so the index is interchangeable
with the batch path's.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pypgcdc_spark.functions.text_kernels import distinct_shingles, hash32
from pypgcdc_spark.operators.dedup import (
    MINHASH_PRIME,
    N_MINHASH,
    minhash_signatures_from_text,
)
from pypgcdc_spark.operators.retrieval import BM25_B, BM25_K1, BM25_QUERY, BM25_TOPK
from pypgcdc_spark.operators.batch_guard import (
    already_applied,
    delta_step_conf,
    mark_applied,
)
from pypgcdc_spark.operators.state_prune import (
    dataset_exists,
    prune_buckets,
    touched_buckets,
)
from pypgcdc_spark.queries import load, query

UPDATE_MOD, UPDATE_REM = 7, 3  # doc_id % 7 == 3 → text revised
DELETE_MOD, DELETE_REM = 13, 5  # doc_id % 13 == 5 → deleted
REVISION_SUFFIX = " revised edition"
N_SIG_BUCKETS = 8


def _shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct 3-word shingles of an arbitrary doc frame
    (the corpus-path twin reads from sf_dir; this one serves micro-batches)."""
    return (
        docs.filter(F.size(F.split(F.lower("text"), " ")) >= 3)
        .select("doc_id", F.explode(distinct_shingles(F.col("text"))).alias("shingle"))
    )


class DocumentIndexMaintainer:
    """foreachBatch delta step shared by the document indexes.

    State: ONE parquet dataset partitioned by ``bucket = doc_id %
    n_buckets``, holding rows keyed by ``doc_id`` with the doc's ``lsn``
    and a ``deleted`` flag.  Each batch keeps the max-LSN version per
    doc, drops versions older than the stored LSN (out-of-order guard),
    rebuilds rows only for the surviving batch docs, and rewrites only
    the touched buckets (dynamic partition overwrite).  Deletes leave
    tombstones so a late stale update cannot resurrect a deleted doc.

    A subclass names its state dir and row schema and builds the new
    rows of a batch's fresh docs in ``_replacement``."""

    STATE_DIR: str
    SCHEMA: str

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        n_buckets: int = N_SIG_BUCKETS,
        guard_id: str = None,
    ):
        self.spark = spark
        self.work = work_dir
        self.n_buckets = n_buckets
        # Stream-lineage identity for the replay guard (checkpoint path):
        # batch ids reset under a fresh checkpoint (ADVICE r8).
        self.guard_id = guard_id
        self.path = f"{work_dir}/{self.STATE_DIR}"
        self._has_state = dataset_exists(self.path)

    def _read_state(self, bucket_ids: list) -> DataFrame:
        """State rows of the touched buckets only, via a static ``isin``
        partition filter from the batch's collected bucket ids (bounded
        metadata, ≤ n_buckets ints).  A broadcast join looked collect-free
        but relied on dynamic partition pruning, which does not fire on
        this plan shape — the full state parquet was scanned every batch
        (ADVICE r7; see ``state_prune.py``)."""
        if not self._has_state:
            return self.spark.createDataFrame([], self.SCHEMA)
        return prune_buckets(self.spark.read.parquet(self.path), bucket_ids).drop(
            "bucket"
        )

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if already_applied(self.work, batch_id, self.guard_id):
            return  # foreachBatch replay (at-least-once): already committed
        with delta_step_conf(self.spark, self.n_buckets):
            self._apply(batch_df)
            mark_applied(self.work, batch_id, self.guard_id)

    def _replacement(self, fresh: DataFrame) -> DataFrame:
        """State rows for ``fresh`` (doc_id, lsn, op, text): the batch's
        newest version of every doc that passed the LSN guard."""
        raise NotImplementedError

    def _apply(self, batch_df: DataFrame) -> None:
        bucket = F.pmod(F.col("doc_id"), F.lit(self.n_buckets)).cast("int")

        # The touched-bucket collect doubles as the empty probe (the
        # separate isEmpty() action cost one extra Spark job per batch).
        batch_buckets = touched_buckets(batch_df, bucket)
        if not batch_buckets:
            return

        # Newest version per doc as ONE partial aggregation (max_by) —
        # the window/row_number form this replaces sorted every batch row
        # (r12, the ivm.py tall-agg discipline).
        latest = (
            batch_df.groupBy("doc_id")
            .agg(F.max_by(F.struct("lsn", "op", "text"), "lsn").alias("r"))
            .select("doc_id", "r.lsn", "r.op", "r.text")
        )
        old = self._read_state(batch_buckets)

        # Out-of-order guard: a batch version older than the stored one
        # (including a tombstone's LSN) must not win.
        prior = old.groupBy("doc_id").agg(F.max("lsn").alias("old_lsn"))
        fresh = (
            latest.join(prior, "doc_id", "left")
            .filter(F.col("old_lsn").isNull() | (F.col("lsn") > F.col("old_lsn")))
            .drop("old_lsn")
            .localCheckpoint(eager=True)
        )
        untouched = old.join(fresh.select("doc_id"), "doc_id", "left_anti")
        new_state = (
            untouched.unionByName(self._replacement(fresh))
            .withColumn("bucket", bucket)
            .localCheckpoint(eager=True)  # never read-from what we overwrite
        )
        new_state.write.mode("overwrite").partitionBy("bucket").parquet(self.path)
        self._has_state = True


class SignatureIndexMaintainer(DocumentIndexMaintainer):
    """foreachBatch maintainer of a bucketed MinHash signature table:
    one row (doc_id, lsn, deleted, mh0..mh{N-1}) per document."""

    STATE_DIR = "sig_state"
    SCHEMA = "doc_id LONG, lsn LONG, deleted BOOLEAN, " + ", ".join(
        f"mh{s} LONG" for s in range(N_MINHASH)
    )

    def _replacement(self, fresh: DataFrame) -> DataFrame:
        # ONE left join replaces the r11 shape's no_sig anti-join + 3-way
        # union with per-part null padding: a fresh doc with shingles
        # picks up its mh columns, a live doc with <3 words or a
        # tombstone (null text → no shingles) gets nulls, and `deleted`
        # is just op='D'.  Row-for-row identical state.
        live = fresh.filter(F.col("op") != "D").select("doc_id", "text")
        # Fused Arrow signature kernel (see minhash_signatures_from_text):
        # identical integers to minhash_signatures_wide(_shingles_of(live)),
        # ~6x cheaper per micro-batch than the interpreted shingle lambda.
        sigs = minhash_signatures_from_text(live)
        mh_all = [f"mh{s}" for s in range(N_MINHASH)]
        return (
            fresh.select("doc_id", "lsn", (F.col("op") == "D").alias("deleted"))
            .join(sigs, "doc_id", "left")
            .select("doc_id", "lsn", "deleted", *mh_all)
        )

    def signatures(self) -> DataFrame:
        """Live long-layout signatures (doc_id, seed, mh) from the index."""
        wide = (
            self.spark.read.parquet(self.path)
            .filter(~F.col("deleted"))
            .drop("bucket", "lsn", "deleted")
        )
        pairs = []
        for s in range(N_MINHASH):
            pairs.extend([f"'{s}'", f"mh{s}"])
        return (
            wide.select(
                "doc_id",
                F.expr(f"stack({N_MINHASH}, {', '.join(pairs)}) AS (seed, mh)"),
            )
            .filter(F.col("mh").isNotNull())
            .select("doc_id", F.col("seed").cast("int").alias("seed"), "mh")
        )


def synth_change_log(docs: DataFrame) -> DataFrame:
    """Deterministic change stream over the corpus: every doc INSERTed
    (lsn = doc_id), then doc_id % {UM} == {UR} UPDATEd with revised text
    (lsn = 10^6 + doc_id), then doc_id % {DM} == {DR} DELETEd
    (lsn = 2·10^6 + doc_id)."""
    ins = docs.select(
        F.col("doc_id").alias("lsn"), F.lit("I").alias("op"), "doc_id", "text"
    )
    upd = docs.filter(F.col("doc_id") % UPDATE_MOD == UPDATE_REM).select(
        (F.lit(1_000_000) + F.col("doc_id")).alias("lsn"),
        F.lit("U").alias("op"),
        "doc_id",
        F.concat(F.col("text"), F.lit(REVISION_SUFFIX)).alias("text"),
    )
    dele = docs.filter(F.col("doc_id") % DELETE_MOD == DELETE_REM).select(
        (F.lit(2_000_000) + F.col("doc_id")).alias("lsn"),
        F.lit("D").alias("op"),
        "doc_id",
        F.lit(None).cast("string").alias("text"),
    )
    return ins.unionByName(upd).unionByName(dele)


synth_change_log.__doc__ = synth_change_log.__doc__.format(
    UM=UPDATE_MOD, UR=UPDATE_REM, DM=DELETE_MOD, DR=DELETE_REM
)


# (application id, sf_dir) → materialized 4-chunk log directory.  The
# chunked change log is a pure function of the dataset, so it is built
# once per session and shared by every maintenance query invocation
# (round-3 advice: each invocation was rebuilding log + state + ckpt; only
# state and checkpoint are genuinely per-run).
_CHUNKED_LOGS: dict = {}


def chunked_doc_log(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the synthetic document change log as 4 LSN-ordered
    single-file chunks (two insert halves, the update wave, the delete
    wave) — once per session per dataset."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _CHUNKED_LOGS:
        return _CHUNKED_LOGS[key]
    (docs,) = load(spark, sf_dir, "documents")
    log = synth_change_log(docs.select("doc_id", "text"))
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    chunks = [
        log.filter((F.col("lsn") < 1_000_000) & (F.col("doc_id") <= half)),
        log.filter((F.col("lsn") < 1_000_000) & (F.col("doc_id") > half)),
        log.filter((F.col("lsn") >= 1_000_000) & (F.col("lsn") < 2_000_000)),
        log.filter(F.col("lsn") >= 2_000_000),
    ]
    base = tempfile.mkdtemp(prefix="cdc_doclog_")
    for i, c in enumerate(chunks):
        c.coalesce(1).write.mode("overwrite").parquet(f"{base}/log/chunk={i}")
    _CHUNKED_LOGS[key] = f"{base}/log"
    return _CHUNKED_LOGS[key]


@query(
    "cdc_minhash_maintenance",
    oracle=f"""
    -- Batch recompute of MinHash signatures over the FINAL corpus state
    -- (updates applied, deletes removed).  The Spark side maintained the
    -- same table INCREMENTALLY from the change stream — hash-match
    -- proves incremental ≡ recompute (tombstones + LSN guard included).
    WITH final_docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % {UPDATE_MOD} = {UPDATE_REM}
                  THEN text || '{REVISION_SUFFIX}' ELSE text END AS text
      FROM documents
      WHERE doc_id % {DELETE_MOD} <> {DELETE_REM}
    ),
    words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM final_docs),
    sh AS (SELECT DISTINCT doc_id, w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS shingle
           FROM words, unnest(range(len(w) - 2)) AS t(i) WHERE len(w) >= 3),
    h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h32 FROM sh)
    SELECT doc_id, CAST(s.seed AS INTEGER) AS seed,
           MIN(((2 * s.seed + 1) * h32 + s.seed) % {MINHASH_PRIME}) AS mh
    FROM h, (SELECT unnest(range({N_MINHASH})) AS seed) s
    GROUP BY doc_id, s.seed
    """,
)
def cdc_minhash_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the synthetic corpus change log in 4 LSN-ordered micro-
    batches through ``SignatureIndexMaintainer`` and return the final
    live signature index (long layout).

    Plan per batch: shingle+hash ONLY the batch's documents (map-side),
    one groupBy(doc_id) for the signature agg, and a dynamic-partition
    overwrite of the touched state buckets.  Per-batch cost is
    ∝ changed documents — the property that makes a 100 TB dedup index
    maintainable at all."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = tempfile.mkdtemp(prefix="cdc_sig_")
    try:
        # Chunked log is session-cached (pure function of the dataset);
        # only the state dir and checkpoint are per-run.
        log_dir = chunked_doc_log(spark, sf_dir)

        maint = SignatureIndexMaintainer(spark, work, guard_id=f"{work}/ckpt")
        q = (
            spark.readStream.schema("lsn LONG, op STRING, doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(log_dir)
            .writeStream.foreachBatch(maint.apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.awaitTermination(300)
        out = maint.signatures()
        rows = out.collect()  # materialize before the workdir is removed
        return spark.createDataFrame(rows, "doc_id LONG, seed INT, mh LONG")
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# CDC-maintained search index (BM25): incremental postings + doclen upkeep
# ---------------------------------------------------------------------------


class PostingsIndexMaintainer(DocumentIndexMaintainer):
    """foreachBatch maintainer of a bucketed full-text postings index.

    Rows (doc_id, lsn, deleted, t, f, dl): one row per (document, term)
    plus a dl-carrying marker row per live document and tombstones for
    deletes.  Each batch re-tokenizes ONLY its touched documents — the
    property that keeps a corpus-scale search index maintainable under a
    CDC feed."""

    STATE_DIR = "postings_state"
    SCHEMA = "doc_id LONG, lsn LONG, deleted BOOLEAN, t STRING, f LONG, dl LONG"

    def _replacement(self, fresh: DataFrame) -> DataFrame:
        live = fresh.filter(F.col("op") != "D").select("doc_id", "text")
        toks = live.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("t"),
        )
        # ONE pass over the exploded token stream: dl = Σf per doc is the
        # same integer as a second count over toks (r12; the old shape
        # re-aggregated the explode).
        tf = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("f"))
        term_rows = tf.withColumn(
            "dl", F.sum("f").over(Window.partitionBy("doc_id"))
        )
        # ONE left join replaces the no_tok anti-join + 3-way union: docs
        # with terms pick up one row per term; a live doc with no tokens
        # or a tombstone (null text → no rows in toks) gets the null
        # marker row, and `deleted` is just op='D'.  Row-for-row
        # identical state, LSN tracking included.
        return (
            fresh.select("doc_id", "lsn", (F.col("op") == "D").alias("deleted"))
            .join(term_rows, "doc_id", "left")
            .select("doc_id", "lsn", "deleted", "t", "f", "dl")
        )

    def live_postings(self) -> DataFrame:
        """(doc_id, t, f, dl) for live documents (marker rows excluded)."""
        return (
            self.spark.read.parquet(self.path)
            .filter(~F.col("deleted") & F.col("t").isNotNull())
            .select("doc_id", "t", "f", "dl")
        )


@query(
    "cdc_bm25_maintenance",
    oracle=f"""
    -- BM25 top-{BM25_TOPK} for {BM25_QUERY} computed over the FINAL corpus state
    -- (updates applied, deletes removed).  The Spark side served the
    -- query from an INCREMENTALLY-maintained postings index — the
    -- hash-match proves index maintenance ≡ rebuild, end to end through
    -- ranking.
    WITH final_docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % {UPDATE_MOD} = {UPDATE_REM}
                  THEN text || '{REVISION_SUFFIX}' ELSE text END AS text
      FROM documents
      WHERE doc_id % {DELETE_MOD} <> {DELETE_REM}
    ),
    words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM final_docs),
    tok AS (SELECT doc_id, unnest(w) AS t FROM words),
    doclen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM doclen),
    tf AS (SELECT doc_id, t, COUNT(*) AS f FROM tok
           WHERE t IN {tuple(BM25_QUERY)} GROUP BY doc_id, t),
    df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
    scored AS (
      SELECT tf.doc_id,
             SUM(CAST(ROUND(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * f / (f + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl)),
             6) AS DECIMAL(18,6))) AS score
      FROM tf JOIN df USING (t)
              JOIN doclen USING (doc_id)
              CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(CAST(score AS DOUBLE), 4) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id ASC LIMIT {BM25_TOPK}
    """,
)
def cdc_bm25_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve BM25 from a CDC-maintained postings index: the synthetic
    change log streams through ``PostingsIndexMaintainer`` (4 micro-
    batches), then the standing query is answered FROM THE INDEX — df,
    avgdl, and term scores all derive from maintained state, never from
    re-reading the corpus.  Hash-matching the recompute-from-scratch
    oracle proves the whole path: tokenize-on-change, touched-bucket
    rewrites, LSN guard, tombstones, and the ranking math itself.

    Scale: query latency is ∝ postings of the query terms (df/idf over
    |Q| rows, one groupBy over matching docs) — the corpus is never
    rescanned; index upkeep is ∝ changed documents per batch."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    work = tempfile.mkdtemp(prefix="cdc_bm25_")
    try:
        log_dir = chunked_doc_log(spark, sf_dir)

        maint = PostingsIndexMaintainer(spark, work, guard_id=f"{work}/ckpt")
        q = (
            spark.readStream.schema("lsn LONG, op STRING, doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(log_dir)
            .writeStream.foreachBatch(maint.apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        q.awaitTermination(300)

        # ---- answer the standing query FROM the maintained index ------
        idx = maint.live_postings().localCheckpoint(eager=True)
        doclen = idx.select("doc_id", "dl").distinct()
        stats = doclen.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        )
        tf = idx.filter(F.col("t").isin(*BM25_QUERY)).select("doc_id", "t", "f", "dl")
        df = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        term_score = F.round(
            idf
            * F.col("f")
            / (
                F.col("f")
                + F.lit(BM25_K1)
                * (F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
            ),
            6,
        ).cast("decimal(18,6)")
        scored = (
            tf.join(F.broadcast(df), "t")
            .join(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.sum(term_score).alias("score"))
        )
        out = (
            scored.select(
                "doc_id", F.round(F.col("score").cast("double"), 4).alias("bm25")
            )
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(BM25_TOPK)
        )
        rows = out.collect()  # materialize before the workdir is removed
        return spark.createDataFrame(rows, "doc_id LONG, bm25 DOUBLE")
    finally:
        shutil.rmtree(work, ignore_errors=True)
