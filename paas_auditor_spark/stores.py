"""Pluggable event stores for the service runner.

The reference persists to Postgres and delegates its relational work to
five SQL statements (pkg/db/store.go:28-400).  The engine's north-star
deployment does the same through JDBC/DB-API; the default local warehouse
is date-partitionable parquet.  Both are exposed behind one small store
surface so ``runner.Service`` is storage-agnostic:

- ``latest_event_time()``  — watermark basis (store.go:289-308)
- ``overlap_keys_df(floor)`` — dedup window keys for W1/T3
- ``append_events(df)``    — idempotent insert (store.go:73-100)
- ``event_count()``        — informer count, approximate where the
  backend offers it (store.go:310-329 reads pg_class.reltuples)
- ``effective_cursor(name)`` / ``upsert_cursor(...)`` — W2
  (store.go:191-199, 262-287)
- ``unshipped_events(cursor_ts, shipped_id, cap)`` — the shipper CTE
  (store.go:191-225)

**Where the relational work runs differs by backend, deliberately.**
``ParquetStore`` computes everything in Spark (partition-prunable scans,
broadcast anti-joins).  ``DbApiStore`` pushes the cursor CTE, the count
and the watermark MAX down to the database — exactly like the reference,
whose Postgres does this work — because the database has the indexes and
the result sets are tiny (1 row, or ≤8192 rows).  Bulk writes still flow
through Spark partitions (``execute_partitionwise``: one connection +
transaction per partition, ON CONFLICT DO NOTHING — W1 under task
retries).  On a 1000-executor cluster the wide data path (fetch →
normalize → validate → dedup) stays distributed; only the bounded
cursor/ship path touches the driver, same as the parquet store.

**No per-tick job that moves no data.**  ``ParquetStore`` reads its tables
with the schemas ``init_warehouse`` pinned (``bootstrap.read_table``), so
no read runs a footer-inference job, and builds the new cursor row as a JVM
literal, so a cursor write forks no Python worker.  The one Python-worker
job left on the tick path is ``pages_to_dataframe`` (the collector's page
envelopes → DataFrame): routing it through Arrow cut ``collector.self_s``
by about 0.2 s but raised the JVM's peak RSS by 100–150 MB, because
Arrow's off-heap allocator starts up, so it stays on the plain route.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paas_auditor_spark.operators.cursor import (
    EPOCH_TS,
    effective_cursor as _effective_cursor_df,
    unshipped_events as _unshipped_events_df,
    upsert_cursor as _upsert_cursor_df,
)
from paas_auditor_spark.schemas import CF_AUDIT_EVENT
from paas_auditor_spark.sinks.jdbc import execute_partitionwise
from paas_auditor_spark.sources.bootstrap import (
    CURSORS_TABLE,
    EVENTS_TABLE,
    init_warehouse,
    read_table,
)

EVENT_COLUMNS = [f.name for f in CF_AUDIT_EVENT.fields]


class ParquetStore:
    """Local/lakehouse store: parquet tables, Spark-side relational work."""

    def __init__(self, spark: SparkSession, warehouse_dir: str) -> None:
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.paths = init_warehouse(spark, warehouse_dir)  # W5

    # -- reads ------------------------------------------------------------

    def _read(self, table: str) -> DataFrame:
        """Read a table with its pinned schema, healing a crashed
        cursor-swap (rename pair) by restoring the ``._old`` backup — the
        cursor then re-ships at most one committed batch (at-least-once),
        never resets to epoch."""
        path = self.paths[table]
        if not os.path.exists(path):
            old = path + "._old"
            if os.path.exists(old):
                os.rename(old, path)
        return read_table(self.spark, self.warehouse_dir, table)

    def events_df(self) -> DataFrame:
        return self._read(EVENTS_TABLE)

    def latest_event_time(self) -> dt.datetime:
        from paas_auditor_spark.functions.timecross import (
            parse_wall,
            ts_string,
        )

        row = (
            self.events_df()
            .agg(ts_string(F.max("created_at")).alias("mx"))
            .first()
        )
        return parse_wall(row["mx"]) or EPOCH_TS

    def overlap_keys_df(self, floor: dt.datetime) -> DataFrame:
        from paas_auditor_spark.functions.timecross import wall_string

        return (
            self.events_df()
            .filter(
                F.col("created_at")
                >= F.lit(wall_string(floor)).cast(
                    CF_AUDIT_EVENT["created_at"].dataType
                )
            )
            .select("guid")
            .distinct()
        )

    def event_count(self) -> int:
        from paas_auditor_spark.operators.stats import approx_count

        return approx_count(self.paths[EVENTS_TABLE])  # A2: footer metadata

    # -- writes -----------------------------------------------------------

    def append_events(self, fresh_df: DataFrame) -> None:
        fresh_df.write.mode("append").parquet(self.paths[EVENTS_TABLE])

    # -- cursor / ship ----------------------------------------------------

    def effective_cursor(self, name: str) -> tuple[dt.datetime, str]:
        return _effective_cursor_df(self._read(CURSORS_TABLE), name)

    def unshipped_events(self, name: str, cap: int) -> DataFrame:
        """The shipper CTE computed Spark-side: cursor resolved from the
        state table (J1-J3), then the capped chronological window (P6/P7/
        O3/O4) as a partition-prunable range filter + TakeOrdered top-k."""
        cursor_ts, shipped_id = self.effective_cursor(name)
        return _unshipped_events_df(self.events_df(), cursor_ts, shipped_id, cap)

    def upsert_cursor(
        self, name: str, updated_at: dt.datetime, shipped_id: str
    ) -> None:
        """W2 on parquet: upsert the tiny state table, atomic dir swap."""
        path = self.paths[CURSORS_TABLE]
        new_df = _upsert_cursor_df(
            self._read(CURSORS_TABLE), name, updated_at, shipped_id
        )
        tmp = path + "._upsert"
        new_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        old = path + "._old"
        # heal a crash that died between the renames and the cleanup: a
        # stale ._old would make THIS rename fail forever, freezing the
        # cursor while the shipper re-ships the same batch every tick
        if os.path.isdir(old):
            shutil.rmtree(old)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)


# Reference DDL re-expressed portably (store.go:55-71 applies
# create_cf_audit_events.sql / create_shipper_cursors.sql idempotently;
# uuid columns become text — the engine validates, the storage stores).
DDL_EVENTS = f"""
CREATE TABLE IF NOT EXISTS cf_audit_events (
  guid TEXT PRIMARY KEY,
  created_at TIMESTAMP NOT NULL CHECK (created_at > TIMESTAMP '1970-01-01'),
  event_type TEXT NOT NULL,
  actor TEXT NOT NULL,
  actor_type TEXT NOT NULL,
  actor_name TEXT NOT NULL,
  actor_username TEXT NOT NULL,
  actee TEXT NOT NULL,
  actee_type TEXT NOT NULL,
  actee_name TEXT NOT NULL,
  organization_guid TEXT,
  space_guid TEXT,
  metadata TEXT
)
"""

DDL_CURSORS = """
CREATE TABLE IF NOT EXISTS shipper_cursors (
  name TEXT PRIMARY KEY,
  updated_at TIMESTAMP NOT NULL CHECK (updated_at > TIMESTAMP '1970-01-01'),
  shipped_id TEXT NOT NULL
)
"""

INSERT_EVENT = (
    "INSERT INTO cf_audit_events ("
    + ", ".join(EVENT_COLUMNS)
    + ") VALUES ("
    + ", ".join("?" for _ in EVENT_COLUMNS)
    + ") ON CONFLICT (guid) DO NOTHING"
)

UPSERT_CURSOR = (
    "INSERT INTO shipper_cursors (name, updated_at, shipped_id)"
    " VALUES (?, ?, ?)"
    " ON CONFLICT (name) DO UPDATE SET"
    " updated_at = excluded.updated_at, shipped_id = excluded.shipped_id"
)

# the shipper CTE verbatim from store.go:191-225 (cap inside the recent
# window, exclusion after), parameterized on (name, cap)
UNSHIPPED_SQL = """
WITH last_shipped_event AS (
  SELECT updated_at, shipped_id FROM (
    SELECT updated_at, shipped_id FROM shipper_cursors WHERE name = ?
    UNION
    SELECT TIMESTAMP '1970-01-01 00:00:00', ''
  ) AS candidates ORDER BY updated_at DESC LIMIT 1
),
recent_cf_audit_events AS (
  SELECT * FROM cf_audit_events
  WHERE created_at >= (SELECT updated_at FROM last_shipped_event)
  ORDER BY created_at ASC, guid ASC
  LIMIT ?
)
SELECT guid, created_at, event_type, actor, actor_type, actor_name,
       actor_username, actee, actee_type, actee_name,
       coalesce(organization_guid, '') AS organization_guid,
       coalesce(space_guid, '') AS space_guid, metadata
FROM recent_cf_audit_events
WHERE guid != (SELECT shipped_id FROM last_shipped_event)
ORDER BY created_at ASC, guid ASC
"""


class DbApiStore:
    """Relational store over any DB-API driver (Postgres, DuckDB, ...).

    ``conn_factory`` must be picklable (see ``sinks.jdbc.dbapi_factory``):
    it is shipped into executor tasks for the partition-wise ON CONFLICT
    writes.  Driver-side statements (cursor CTE, MAX, COUNT) open their
    own short-lived connection per tick — the reference equally runs one
    transaction per statement (store.go:185-191).
    """

    def __init__(
        self,
        spark: SparkSession,
        conn_factory: Callable[[], object],
        paramstyle: str = "qmark",
        write_partitions: int | None = None,
    ) -> None:
        """``paramstyle``: DB-API placeholder dialect of the driver —
        ``qmark`` (duckdb) keeps statements as-is, ``format``/``pyformat``
        (psycopg2) rewrites ``?`` to ``%s``.

        ``write_partitions`` caps the concurrent writer connections
        (connection-stampede guard; REQUIRED as 1 for single-writer
        engines like a DuckDB file — Postgres takes N happily).
        """
        self.spark = spark
        self.conn_factory = conn_factory
        self._ph = "%s" if paramstyle in ("format", "pyformat") else "?"
        self.write_partitions = write_partitions
        self._exec_ddl()

    def _q(self, sql: str) -> str:
        return sql if self._ph == "?" else sql.replace("?", self._ph)

    def _exec_ddl(self) -> None:  # W5 idempotent startup DDL
        conn = self.conn_factory()
        try:
            cur = conn.cursor()
            cur.execute(DDL_EVENTS)
            cur.execute(DDL_CURSORS)
            conn.commit()
        finally:
            conn.close()

    def _fetch(self, sql: str, params: tuple = ()) -> list[tuple]:
        conn = self.conn_factory()
        try:
            cur = conn.cursor()
            cur.execute(self._q(sql), params)
            return cur.fetchall()
        finally:
            conn.close()

    # -- reads ------------------------------------------------------------

    def latest_event_time(self) -> dt.datetime:
        rows = self._fetch(
            "SELECT created_at FROM cf_audit_events"
            " ORDER BY created_at DESC LIMIT 1"
        )  # store.go:289-308 incl. the epoch default on empty
        return rows[0][0] if rows else EPOCH_TS

    def overlap_keys_df(self, floor: dt.datetime) -> DataFrame:
        rows = self._fetch(
            "SELECT guid FROM cf_audit_events WHERE created_at >= ?",
            (floor,),
        )
        return self.spark.createDataFrame(
            [(r[0],) for r in rows], schema="guid string"
        )

    def event_count(self) -> int:
        # Postgres path would read pg_class.reltuples (store.go:310-329);
        # COUNT(*) is the portable stand-in
        return int(self._fetch("SELECT count(*) FROM cf_audit_events")[0][0])

    # -- writes -----------------------------------------------------------

    def append_events(self, fresh_df: DataFrame) -> None:
        """W1 strict parity: partition-wise ``INSERT … ON CONFLICT (guid)
        DO NOTHING`` — one connection + transaction per Spark partition,
        idempotent under task retries."""
        from paas_auditor_spark.functions.timecross import ts_string

        # created_at crosses the executor boundary as the JVM-rendered
        # wall-clock string (the DB casts it back): a datetime OBJECT
        # row would be converted with the executor's process tz and a
        # non-UTC host would store shifted wall clocks
        fresh = fresh_df.withColumn(
            "created_at", ts_string(F.col("created_at"))
        )
        execute_partitionwise(
            fresh, self._q(INSERT_EVENT), self.conn_factory,
            columns=EVENT_COLUMNS, max_partitions=self.write_partitions,
        )

    # -- cursor / ship ----------------------------------------------------

    def effective_cursor(self, name: str) -> tuple[dt.datetime, str]:
        rows = self._fetch(
            "SELECT updated_at, shipped_id FROM ("
            " SELECT updated_at, shipped_id FROM shipper_cursors WHERE name = ?"
            " UNION SELECT TIMESTAMP '1970-01-01 00:00:00', ''"
            # Postgres requires the FROM-subquery alias; DuckDB tolerates
            # its absence, which is why tests alone never caught it
            ") AS candidates ORDER BY updated_at DESC LIMIT 1",
            (name,),
        )
        return rows[0][0], rows[0][1]

    def unshipped_events(self, name: str, cap: int) -> DataFrame:
        """The shipper CTE delegated verbatim to the database — exactly
        the reference's plan (its Postgres resolves the cursor subqueries
        and the capped index scan); the bounded result (≤ cap rows) lifts
        into a DataFrame for envelope serialization."""
        rows = self._fetch(UNSHIPPED_SQL, (name, cap))
        # the DB returns wall-clock naive datetimes; they must NOT cross
        # into Spark as objects (createDataFrame converts via the
        # process tz) — render to strings and parse JVM-side instead
        from paas_auditor_spark.functions.timecross import (
            to_ts,
            wall_string,
        )

        str_rows = [
            (r[0], wall_string(r[1]), *r[2:]) for r in rows
        ]
        schema = ", ".join(
            f"{f.name} {'string' if f.name == 'created_at' else f.dataType.simpleString()}"
            for f in CF_AUDIT_EVENT.fields
        )
        df = self.spark.createDataFrame(str_rows, schema=schema)
        return df.withColumn("created_at", to_ts("created_at"))

    def upsert_cursor(
        self, name: str, updated_at: dt.datetime, shipped_id: str
    ) -> None:
        conn = self.conn_factory()
        try:
            cur = conn.cursor()
            cur.execute(self._q(UPSERT_CURSOR), (name, updated_at, shipped_id))
            conn.commit()
        finally:
            conn.close()


__all__ = ["DbApiStore", "ParquetStore"]
