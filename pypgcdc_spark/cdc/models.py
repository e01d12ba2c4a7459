"""Core data model for the PySpark-native CDC analytics engine.

Capability twin of the reference's pydantic model layer
(``/root/reference/src/pypgcdc/models.py:8-76``), re-expressed as plain
dataclasses + the flat change-event envelope schema (``ENVELOPE_DDL``).
Nothing here depends on a live Postgres: the envelope is exactly what the
Structured Streaming source (``pypgcdc_spark.sources.pgcdc``) emits and
what the apply-changes materializer (``pypgcdc_spark.cdc.apply``)
consumes; ``PgCdcEngine.with_envelope_structs`` regroups it into the
nested ``tx``/``source`` shape on request.

Design decisions vs the reference (SURVEY §1, §7.4 defect ledger):

* ``numeric(p,s)`` maps to ``DecimalType(p,s)`` decoded from atttypmod —
  the reference loses precision through ``float`` (reader.py:69-70, Q5).
* The TOAST "unchanged" marker ``'u'`` is kept as a distinct sentinel
  (``TOAST_UNCHANGED``) instead of collapsing to NULL (decoders.py:144-146,
  Q6); the apply stage carries the previous value forward.
* ``before/after/key`` are ``MAP<STRING,STRING>`` in the generic envelope
  (schema-agnostic, mergeable across tables); per-table *typed views* cast
  through the registered StructType (reader.py:274-292's pydantic models,
  done Catalyst-side instead).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from pyspark.sql import types as T

# Sentinel for a TOAST column the wire marked 'u' (unchanged, not sent).
# Must survive a text round-trip, hence a string no real value will collide
# with in practice (same trick Debezium uses with "__debezium_unavailable").
TOAST_UNCHANGED = "\x00__toast_unchanged__\x00"


@dataclass(frozen=True)
class ColumnDefinition:
    """Twin of reference models.py:28-33 (+ atttypmod retained for Decimal)."""

    name: str
    part_of_pkey: bool
    type_id: int  # Postgres OID
    type_name: str
    optional: bool = True
    atttypmod: int = -1


@dataclass
class TableSchema:
    """Twin of reference models.py:36-44."""

    db: str
    namespace: str
    table: str
    relation_id: int
    column_definitions: List[ColumnDefinition] = field(default_factory=list)

    def get_key_columns(self) -> List[str]:
        return [c.name for c in self.column_definitions if c.part_of_pkey]

    @property
    def qualified_name(self) -> str:
        return f"{self.namespace}.{self.table}"

    def to_struct_type(self) -> T.StructType:
        """Registered Spark schema for the typed view of this table.

        PKey membership is kept in field metadata so downstream code can
        rebuild the key column list from the StructType alone.
        """
        return T.StructType(
            [
                T.StructField(
                    c.name,
                    pg_type_to_spark(c.type_name, c.atttypmod),
                    nullable=c.optional,
                    metadata={"pkey": c.part_of_pkey, "pg_type": c.type_name},
                )
                for c in self.column_definitions
            ]
        )


# ---------------------------------------------------------------------------
# Postgres type name -> Spark type (SURVEY §1.2 mapping table)
# ---------------------------------------------------------------------------

_NUMERIC_RE = re.compile(r"^numeric(?:\((\d+)\s*,\s*(\d+)\))?$")


def pg_type_to_spark(type_name: str, atttypmod: int = -1) -> T.DataType:
    """Map a Postgres ``format_type`` name to a Spark DataType.

    Mirrors what the reference's ``convert_pg_type_to_py_type``
    (reader.py:61-72) decides, with two deliberate upgrades:
    numeric→Decimal (exact) and timestamp-without-tz→TimestampNTZ.
    """
    t = type_name.strip().lower()
    m = _NUMERIC_RE.match(t)
    if m:
        if m.group(1) is not None:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        if atttypmod >= 4:  # pg packs (p,s) into atttypmod = (p<<16 | s) + 4
            mod = atttypmod - 4
            return T.DecimalType((mod >> 16) & 0xFFFF, mod & 0xFFFF)
        return T.DecimalType(38, 18)
    if t in ("smallint", "int2"):
        return T.ShortType()
    if t in ("integer", "int", "int4"):
        return T.IntegerType()
    if t in ("bigint", "int8"):
        return T.LongType()
    if t in ("real", "float4"):
        return T.FloatType()
    if t in ("double precision", "float8"):
        return T.DoubleType()
    if t == "boolean":
        return T.BooleanType()
    if t == "date":
        return T.DateType()
    if t in ("timestamp with time zone", "timestamptz"):
        return T.TimestampType()
    if t in ("timestamp without time zone", "timestamp"):
        return T.TimestampNTZType()
    if t == "bytea":
        return T.BinaryType()
    # json/jsonb stay raw strings; query through from_json/variant.
    return T.StringType()


# ---------------------------------------------------------------------------
# The change-event envelope (FIXTURES.md §7; reference models.py:64-76)
# ---------------------------------------------------------------------------

# Flat: the Python DataSource emits flat rows; the key/before/after maps
# are the only nested columns.
ENVELOPE_DDL = (
    "op STRING, lsn BIGINT, tx_id BIGINT, begin_lsn BIGINT, commit_lsn BIGINT, "
    "commit_ts TIMESTAMP, database STRING, namespace STRING, table STRING, "
    "key MAP<STRING,STRING>, before MAP<STRING,STRING>, after MAP<STRING,STRING>"
)


@dataclass
class ChangeEvent:
    """Decoded change event (reference models.py:64-76) pre-DataFrame."""

    op: str
    lsn: int
    tx_id: Optional[int] = None
    begin_lsn: Optional[int] = None
    commit_lsn: Optional[int] = None
    commit_ts: Optional[object] = None  # datetime
    database: Optional[str] = None
    namespace: Optional[str] = None
    table: Optional[str] = None
    key: Optional[Dict[str, Optional[str]]] = None
    before: Optional[Dict[str, Optional[str]]] = None
    after: Optional[Dict[str, Optional[str]]] = None

    def as_flat_tuple(self):
        return (
            self.op,
            self.lsn,
            self.tx_id,
            self.begin_lsn,
            self.commit_lsn,
            self.commit_ts,
            self.database,
            self.namespace,
            self.table,
            self.key,
            self.before,
            self.after,
        )
