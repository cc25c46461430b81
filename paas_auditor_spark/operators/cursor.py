"""Shipper-cursor operators — the reference's most complex query.

Re-expresses the CTE at reference pkg/db/store.go:191-225:

    WITH last_shipped_event AS (
      SELECT updated_at, shipped_id FROM (
        SELECT ... FROM shipper_cursors WHERE name = $1
        UNION SELECT (date '1970 1 1')::timestamptz, '')
      ORDER BY updated_at DESC LIMIT 1),
    recent_cf_audit_events AS (
      SELECT * FROM cf_audit_events
      WHERE created_at >= (SELECT updated_at FROM last_shipped_event)
      ORDER BY created_at ASC LIMIT 8192)
    SELECT <13 cols> FROM recent_cf_audit_events
    WHERE guid::text != (SELECT shipped_id FROM last_shipped_event)
    ORDER BY created_at ASC

    Note the clause order: the 8192 cap applies to the *recent* window
    BEFORE the last-shipped guid is excluded, so a full boundary batch
    yields 8191 rows — mirrored exactly below.

Operator mapping (SURVEY.md §2.3/§2.5): J1 union-with-default, J2 top-1 by
sort, J3 scalar-subquery inlining, P6 range filter, P7 boundary anti-filter,
O3 batch-bounding top-k, O4 chronological output.

Scale notes: the cursor relation has cardinality exactly 1, so we collect it
to the driver and inline as literals — the same plan Postgres produces for
the scalar subqueries, and strictly cheaper than a broadcast cross-join.
The big-side work is then a partition-prunable range filter plus a global
top-k, which Spark executes as TakeOrderedAndProject (no full sort, no
full shuffle: per-partition heaps of size k merged on the driver).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paas_auditor_spark.functions.timecross import (
    parse_wall,
    to_ts,
    ts_string,
    wall_string,
)
from paas_auditor_spark.schemas import EPOCH, SHIPPER_CURSOR

EPOCH_TS = dt.datetime(1970, 1, 1)


def empty_cursors(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], schema=SHIPPER_CURSOR)


def effective_cursor(
    cursors_df: DataFrame, shipper_name: str
) -> tuple[dt.datetime, str]:
    """Resolve (updated_at, shipped_id) for a shipper, defaulting to epoch.

    Parity with reference store.go:192-199: cursor row UNION default row
    (J1 — Postgres UNION is distinct; rows always differ here, but we keep
    dropDuplicates for strict parity, SURVEY.md hard-part 4), then top-1 by
    updated_at (J2).  Cardinality is exactly 1 → collect to driver (J3).
    """
    # updated_at collects as a JVM-rendered wall-clock STRING, never as a
    # datetime object — object crossings use the Python PROCESS timezone
    # and shift the cursor by the tz offset on a non-UTC host (see
    # functions/timecross.py)
    rows = (
        cursors_df.filter(F.col("name") == F.lit(shipper_name))
        .select(ts_string("updated_at").alias("u"), "shipped_id")
        .collect()
    )
    # UNION with the (epoch, '') default row + ORDER BY updated_at DESC
    # LIMIT 1, resolved driver-side: the relation is at most a handful of
    # rows per shipper, and a distributed sort+dedup here costs two shuffle
    # jobs for nothing (Postgres equally resolves this via an index top-1).
    candidates = [(parse_wall(r["u"]), r["shipped_id"]) for r in rows]
    candidates.append((EPOCH_TS, ""))
    return max(dict.fromkeys(candidates), key=lambda c: c[0])


def unshipped_events(
    events_df: DataFrame,
    cursor_ts: dt.datetime,
    shipped_id: str,
    batch_cap: int = 8192,
    ts_col: str = "created_at",
    id_col: str = "guid",
) -> DataFrame:
    """Bounded, chronologically-ordered batch of not-yet-shipped events.

    Parity with reference store.go:201-225: range filter P6
    (``created_at >= cursor``), O3 top-k bound *inside* the recent-events
    CTE, then boundary anti-filter P7 (exclude exactly the last-shipped
    id — events sharing the cursor timestamp may re-ship: at-least-once,
    preserved deliberately), O4 ascending ship order.  The cap is applied
    BEFORE the exclusion, exactly as the reference SQL orders its clauses,
    so a saturated batch ships 8191 events.  ``id_col`` is a deterministic
    tie-break the reference gets implicitly from its index scan.

    Plan shape: the capped window is TakeOrderedAndProject (per-partition
    heaps of size k, no global sort); the post-filter and final sort then
    touch ≤ ``batch_cap`` rows.
    """
    # The cursor literal crosses as a wall-clock STRING cast to the ts
    # column's own type — session-tz-consistent for TIMESTAMP, pure wall
    # clock for TIMESTAMP_NTZ.  A datetime-object literal would be
    # converted with the Python PROCESS timezone and shift the boundary
    # on a non-UTC host (caught by a TZ sweep: the batch read 8192 rows,
    # not 8191; see functions/timecross.py for the invariant).
    lit_cursor = F.lit(wall_string(cursor_ts)).cast(
        events_df.schema[ts_col].dataType
    )
    recent = (
        events_df.filter(F.col(ts_col) >= lit_cursor)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .limit(batch_cap)
    )
    return recent.filter(
        F.col(id_col).cast("string") != F.lit(shipped_id)
    ).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())


def upsert_cursor(
    cursors_df: DataFrame,
    shipper_name: str,
    updated_at: dt.datetime,
    shipped_id: str,
) -> DataFrame:
    """Keyed single-row upsert (reference store.go:262-287, W2).

    Spark has no in-place update; the idiom is anti-join out the old row and
    union the new one — the same MERGE-on-``name`` shape Delta would run.
    The cursor table is O(#sinks) rows, so this is trivially cheap and the
    caller overwrites the tiny state table atomically (write temp + rename
    or Delta MERGE on a real deployment).
    """
    spark = cursors_df.sparkSession
    # the row is a JVM literal over a one-row Range: a local-list
    # createDataFrame would go through a PythonRDD and fork Python
    # workers on every cursor write.  The timestamp crosses as a
    # wall-clock string parsed JVM-side (session tz) — a datetime object
    # would convert via the process tz
    new_row = spark.range(0, 1, 1, 1).select(
        F.lit(shipper_name).alias("name"),
        to_ts(F.lit(wall_string(updated_at))).alias("updated_at"),
        F.lit(shipped_id).alias("shipped_id"),
    )
    kept = cursors_df.filter(F.col("name") != F.lit(shipper_name))
    return kept.unionByName(new_row)


def validate_cursor_monotonic(
    before: tuple[dt.datetime, str], after: tuple[dt.datetime, str]
) -> bool:
    """Cursor must never move backwards (CHECK > epoch + advance-on-success,
    reference create_shipper_cursors.sql:8-12 and shipper.go:137-143)."""
    return after[0] >= before[0] and after[0] > EPOCH_TS


__all__ = [
    "EPOCH",
    "EPOCH_TS",
    "effective_cursor",
    "empty_cursors",
    "unshipped_events",
    "upsert_cursor",
    "validate_cursor_monotonic",
]
