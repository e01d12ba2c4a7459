"""The per-batch delta step the state maintainers share.

Pins three properties of ``BucketedViewMaintainer``,
``JoinViewMaintainer``, ``SignatureIndexMaintainer`` and
``PostingsIndexMaintainer``:

* a NULL stored in the maintained aggregate (a NULL join priority, a
  NULL cent sum) does not break the next batch's delta fold;
* a document index reopened over an existing work dir merges into the
  stored buckets instead of replacing them with the batch's documents,
  and a reopened view maintainer keeps its aggregate;
* ``apply_batch`` leaves the session's SQL conf as it found it, and so
  does a bucketed ``DeleteAwareMerger`` batch.
"""

import pytest

from pypgcdc_spark.operators.cdc_dedup import (
    PostingsIndexMaintainer,
    SignatureIndexMaintainer,
)
from pypgcdc_spark.operators.ivm import BucketedViewMaintainer
from pypgcdc_spark.operators.join_ivm import A_SCHEMA, JoinViewMaintainer

EVENTS = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
DOCS = "lsn LONG, op STRING, doc_id LONG, text STRING"


def _a(lsn, orderkey, priority):
    return (lsn, "A", orderkey, None, 10 * orderkey, priority, None)


def _b(lsn, orderkey, line, cents):
    return (lsn, "B", orderkey, line, None, None, cents)


# (maintainer class, batch schema, batch 0 rows, batch 1 rows, expected
# aggregate rows after batch 1).  The join case stores a NULL priority;
# the view case stores a NULL event type (never counted) and a NULL cent
# sum for 'view'.
NULL_CASES = {
    "join_null_priority": (
        JoinViewMaintainer,
        A_SCHEMA,
        [_a(4, 1, "HIGH"), _a(8, 2, None), _b(5, 1, 1, 100)],
        [_b(9, 1, 2, 50)],
        [("HIGH", 2, 150)],
    ),
    "view_null_event_type": (
        BucketedViewMaintainer,
        EVENTS,
        [(1, 1, "view", None), (2, 2, None, 2.0)],
        [(3, 3, "view", 1.0)],
        [("view", 2, 100)],
    ),
}


@pytest.mark.parametrize("case", sorted(NULL_CASES))
def test_null_in_aggregate_survives_next_batch(spark, tmp_path, case):
    cls, schema, batch0, batch1, want = NULL_CASES[case]
    m = cls(spark, str(tmp_path / case), n_buckets=2)
    m.apply_batch(spark.createDataFrame(batch0, schema), 0)
    assert any(None in tuple(r) for r in m._agg_rows)
    m.apply_batch(spark.createDataFrame(batch1, schema), 1)
    assert sorted(tuple(r) for r in m.aggregate().collect()) == want


@pytest.mark.parametrize("cls", [SignatureIndexMaintainer, PostingsIndexMaintainer])
def test_document_index_restart_keeps_state(spark, tmp_path, cls):
    """Docs 2, 4 and 6 share bucket 0 of 2: a maintainer reopened over the
    work dir must add doc 6 beside the stored docs, not replace them."""
    work = str(tmp_path / cls.__name__)
    text = "alpha beta gamma delta"
    first = cls(spark, work, n_buckets=2)
    first.apply_batch(
        spark.createDataFrame([(1, "I", 2, text), (2, "I", 4, text)], DOCS), 0
    )
    reopened = cls(spark, work, n_buckets=2)
    reopened.apply_batch(spark.createDataFrame([(3, "I", 6, text)], DOCS), 1)
    live = spark.read.parquet(reopened.path).filter("NOT deleted")
    assert sorted(r.doc_id for r in live.select("doc_id").distinct().collect()) == [2, 4, 6]


def test_view_restart_keeps_aggregate(spark, tmp_path):
    """A view maintainer reopened over its work dir folds its aggregate
    from the committed key state: the next batch retracts user 1's 'view'
    from it instead of from an empty aggregate."""
    work = str(tmp_path / "view")
    first = BucketedViewMaintainer(spark, work, n_buckets=2)
    first.apply_batch(
        spark.createDataFrame(
            [(1, 1, "view", 1.0), (2, 2, "view", 2.0), (3, 3, "click", 3.0)], EVENTS
        ),
        0,
    )
    reopened = BucketedViewMaintainer(spark, work, n_buckets=2)
    reopened.apply_batch(spark.createDataFrame([(4, 1, "click", 5.0)], EVENTS), 1)
    assert sorted(tuple(r) for r in reopened.aggregate().collect()) == [
        ("click", 2, 800),
        ("view", 1, 200),
    ]


CONF_KEYS = {
    "spark.sql.sources.partitionOverwriteMode": "STATIC",
    "spark.sql.shuffle.partitions": "5",
    "spark.sql.join.preferSortMergeJoin": "true",
    "spark.sql.adaptive.enabled": "true",
}

CONF_CASES = {
    "view": (
        BucketedViewMaintainer,
        EVENTS,
        [(1, 1, "view", 1.0), (2, 2, "click", 2.0)],
    ),
    "join": (JoinViewMaintainer, A_SCHEMA, [_a(4, 1, "HIGH"), _b(5, 1, 1, 100)]),
    "signature": (SignatureIndexMaintainer, DOCS, [(1, "I", 1, "alpha beta gamma")]),
    "postings": (PostingsIndexMaintainer, DOCS, [(1, "I", 1, "alpha beta gamma")]),
}


@pytest.mark.parametrize("case", sorted(CONF_CASES))
def test_apply_batch_restores_session_conf(spark, tmp_path, case):
    cls, schema, rows = CONF_CASES[case]
    conf = spark.conf
    outer = {k: conf.get(k) for k in CONF_KEYS}
    try:
        for k, v in CONF_KEYS.items():
            conf.set(k, v)
        m = cls(spark, str(tmp_path / case), n_buckets=2)
        m.apply_batch(spark.createDataFrame(rows, schema), 0)
        assert {k: conf.get(k) for k in CONF_KEYS} == CONF_KEYS
    finally:
        for k, v in outer.items():
            conf.set(k, v)


def test_merger_keeps_session_overwrite_mode(spark, tmp_path):
    """A bucketed ``DeleteAwareMerger`` batch overwrites only its touched
    buckets without switching the session to dynamic overwrite, so a
    static merger (``n_buckets=None``) in the same session still replaces
    its whole table."""
    from pypgcdc_spark.api import PgCdcEngine
    from pypgcdc_spark.cdc import pgoutput as pg
    from pypgcdc_spark.cdc.apply import DeleteAwareMerger
    from pypgcdc_spark.sources.pgcdc import scan_log
    from pypgcdc_spark.testing import INTEGRATION_COLS, INTEGRATION_RELID, WorkloadWriter

    def log_of(name, start_lsn, messages):
        path = str(tmp_path / name)
        w = WorkloadWriter(path, start_lsn=start_lsn)
        w.relation(INTEGRATION_RELID, "integration", INTEGRATION_COLS)
        w.tx(messages)
        w.close()
        return path

    inserts = log_of(
        "ins.log",
        1000,
        [
            pg.encode_insert(INTEGRATION_RELID, [str(k), None, "1.00", None, f"v{k}"])
            for k in range(10)
        ],
    )
    delete = log_of(
        "del.log",
        10_000,
        [pg.encode_delete(INTEGRATION_RELID, ["0", None, None, None, None])],
    )
    engine = PgCdcEngine(spark)
    schema = scan_log(inserts)[0].get(INTEGRATION_RELID)

    def ids(path):
        return sorted(int(r.id) for r in spark.read.parquet(path).collect())

    key = "spark.sql.sources.partitionOverwriteMode"
    outer = spark.conf.get(key)
    try:
        spark.conf.set(key, "STATIC")
        bucketed = str(tmp_path / "bucketed")
        merger = DeleteAwareMerger(spark, schema, bucketed, n_buckets=4)
        merger(engine.snapshot(inserts), 0)
        merger(engine.snapshot(delete), 1)
        assert spark.conf.get(key) == "STATIC"
        assert ids(bucketed) == list(range(1, 10))  # untouched buckets kept

        static = str(tmp_path / "static")
        merger = DeleteAwareMerger(spark, schema, static)
        merger(engine.snapshot(inserts), 0)
        merger(engine.snapshot(delete), 1)
        assert ids(static) == list(range(1, 10))
    finally:
        spark.conf.set(key, outer)
