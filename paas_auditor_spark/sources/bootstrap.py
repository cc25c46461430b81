"""Warehouse bootstrap — the engine's analog of the reference's idempotent
startup DDL (W5: pkg/db/store.go:55-71,331-368 applying
create_cf_audit_events.sql / create_shipper_cursors.sql in a transaction).

Spark has no CREATE TABLE transaction over parquet directories; idempotent
init here means: if the table directory does not exist, write an empty
parquet dataset with the pinned schema, so every later reader/writer sees
the canonical column set and types from the first run on.  Re-running is a
no-op (the reference's ``IF NOT EXISTS`` semantics).  On Delta/Iceberg
deployments this module is replaced by ``CREATE TABLE IF NOT EXISTS``
against the catalog — the call sites don't change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from paas_auditor_spark.schemas import CF_AUDIT_EVENT, SHIPPER_CURSOR

EVENTS_TABLE = "cf_audit_events"
CURSORS_TABLE = "shipper_cursors"
# the pinned schema of each table; readers pass it instead of inferring
TABLE_SCHEMAS = {EVENTS_TABLE: CF_AUDIT_EVENT, CURSORS_TABLE: SHIPPER_CURSOR}


def _table_path(warehouse_dir: str, name: str) -> str:
    return os.path.join(warehouse_dir, name)


def init_table(
    spark: SparkSession, warehouse_dir: str, name: str, schema
) -> str:
    """Create the table as an empty parquet dataset if absent (idempotent)."""
    path = _table_path(warehouse_dir, name)
    if not os.path.exists(path):
        spark.createDataFrame([], schema).write.mode("ignore").parquet(path)
    return path


def init_warehouse(spark: SparkSession, warehouse_dir: str) -> dict[str, str]:
    """Apply all startup DDL (reference store.go:55-71): both tables exist
    with pinned schemas afterwards, whether or not they did before."""
    return {
        name: init_table(spark, warehouse_dir, name, schema)
        for name, schema in TABLE_SCHEMAS.items()
    }


def read_table(spark: SparkSession, warehouse_dir: str, name: str) -> DataFrame:
    """Read a table with its pinned schema: no footer-inference job, and
    the same column set whatever files the table holds — a column absent
    from older files reads as NULL there."""
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(
        _table_path(warehouse_dir, name)
    )


__all__ = [
    "CURSORS_TABLE",
    "EVENTS_TABLE",
    "TABLE_SCHEMAS",
    "init_table",
    "init_warehouse",
    "read_table",
]
