"""Ingest operators: envelope normalization, validation, idempotent append.

Reference behavior being re-expressed:
- S4 envelope decode + flatten (pkg/fetchers/cf_audit_event_fetcher.go:71-81)
- P8 event-time validity CHECK (create_cf_audit_events.sql:26-30)
- T2 incremental watermark with 5s overlap re-read
  (pkg/collectors/cf_audit_event_collector.go:36,92-104)
- W1/T3 idempotent insert: ON CONFLICT (guid) DO NOTHING
  (pkg/db/store.go:73-100) — overlap re-reads never duplicate.

Scale notes (SURVEY.md §7 hard-part 1): the anti-join against the target
must NOT scan full history.  Incoming batches only ever overlap the cursor
window (watermark − 5 s), so we bound the anti-join's right side with the
same range filter — on a date-partitioned table that is partition pruning,
making dedup O(batch + overlap-window) regardless of history size.  The
small bounded side is broadcast so no shuffle of the batch is needed.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from paas_auditor_spark.operators.cursor import EPOCH_TS
from paas_auditor_spark.schemas import EVENTS_ENVELOPE


def normalize_envelope(raw_df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Decode the /v2/events JSON envelope into flat event rows.

    Parity with reference cf_audit_event_fetcher.go:71-81: decode
    ``EventsResponse``, explode ``resources``, and flatten ``metadata.guid``
    / ``metadata.created_at`` into the entity (the envelope's Meta wins over
    the entity's own fields, which the reference ignores).
    All JVM-side expressions — no Python in the hot path.
    """
    parsed = raw_df.select(
        F.from_json(F.col(payload_col), EVENTS_ENVELOPE).alias("env")
    )
    resources = parsed.select(F.explode("env.resources").alias("r"))
    return resources.select(
        F.col("r.metadata.guid").alias("guid"),
        F.to_timestamp("r.metadata.created_at").alias("created_at"),
        F.col("r.entity.type").alias("event_type"),
        F.col("r.entity.actor").alias("actor"),
        F.col("r.entity.actor_type").alias("actor_type"),
        F.col("r.entity.actor_name").alias("actor_name"),
        F.col("r.entity.actor_username").alias("actor_username"),
        F.col("r.entity.actee").alias("actee"),
        F.col("r.entity.actee_type").alias("actee_type"),
        F.col("r.entity.actee_name").alias("actee_name"),
        # '' -> NULL on write, reference store.go:91 (P3)
        F.nullif(F.col("r.entity.organization_guid"), F.lit("")).alias(
            "organization_guid"
        ),
        F.nullif(F.col("r.entity.space_guid"), F.lit("")).alias("space_guid"),
        F.to_json("r.entity.metadata").alias("metadata"),
    )


def validate_events(
    df: DataFrame, ts_col: str = "created_at", key_col: str = "guid"
) -> tuple[DataFrame, DataFrame]:
    """Split (valid, quarantined) on the event-time CHECK (P8) AND the
    key NOT NULL constraint.

    The reference enforces ``created_at > 'epoch'`` and
    ``guid uuid NOT NULL`` as table constraints; as an engine we filter
    on the write path and keep the rejects addressable instead of
    erroring the batch.  The key check matters downstream: a NULL key
    can never match a dedup anti-join (NULL ≠ NULL), so an unvalidated
    null-key row would be re-appended on EVERY overlap re-read.
    """
    # epoch literal crosses as a string (session-tz parse) — an object
    # literal converts via the process tz and would misjudge rows within
    # tz-offset hours of the epoch on a non-UTC host
    epoch_lit = F.lit("1970-01-01 00:00:00").cast(
        df.schema[ts_col].dataType
    )
    cond = F.col(ts_col).isNotNull() & (F.col(ts_col) > epoch_lit)
    if key_col in df.columns:
        cond = cond & F.col(key_col).isNotNull()
    return df.filter(cond), df.filter(~cond)


def ingest_watermark(
    target_df: DataFrame,
    ts_col: str = "created_at",
    overlap_s: float = 5.0,
) -> dt.datetime:
    """Next-fetch start time: max(created_at) − overlap, epoch when empty.

    Parity with reference cf_audit_event_collector.go:36,92-104 including
    the year<1970 guard (T2).  A single MAX aggregate; over parquet it
    scans the ``created_at`` column of every file (column pruning only —
    Spark's parquet source does not answer MAX from footer statistics).
    """
    from paas_auditor_spark.functions.timecross import parse_wall, ts_string

    # wall-clock string collect — a datetime-object collect would shift
    # by the process-tz offset on a non-UTC host (functions/timecross.py)
    row = target_df.agg(ts_string(F.max(ts_col)).alias("mx")).first()
    mx = parse_wall(row["mx"])
    if mx is None:
        return EPOCH_TS
    wm = mx - dt.timedelta(seconds=overlap_s)
    if wm.year < 1970:
        return EPOCH_TS
    return wm


def idempotent_merge(
    target_df: DataFrame,
    batch_df: DataFrame,
    key_col: str = "guid",
    ts_col: str = "created_at",
    window_floor: dt.datetime | None = None,
) -> tuple[DataFrame, DataFrame]:
    """W1/T3 merge returning ``(new_target, fresh)``.

    Semantics of ``INSERT ... ON CONFLICT (guid) DO NOTHING`` per page
    (reference store.go:87-93): in-batch dedup first (first occurrence
    wins is irrelevant — guid collisions carry identical rows), then a
    left-anti join against the target.

    ``window_floor`` bounds the anti-join's target side: batches produced by
    the watermark fetch can only collide inside the overlap window, so at
    scale pass ``window_floor=watermark`` and the anti-join right side
    becomes a pruned scan, broadcast to the batch.

    ``fresh`` is ``localCheckpoint``'d (lazy): counting it and then acting
    on the union computes the anti-join once — the collected-rows metric is
    O(batch), never a rescan of history (the reference likewise counts only
    the page it just stored, cf_audit_event_collector.go:67-68).
    """
    # defense in depth behind validate_events' NOT NULL check: a NULL
    # key never matches the anti-join (NULL ≠ NULL), so a null-key row
    # would count as "fresh" on every overlap re-read and duplicate
    # unboundedly — the reference's NOT NULL PK rejects it at the DB
    deduped = batch_df.filter(F.col(key_col).isNotNull()).dropDuplicates(
        [key_col]
    )
    existing = target_df
    if window_floor is not None:
        from paas_auditor_spark.functions.timecross import wall_string

        existing = existing.filter(
            F.col(ts_col)
            >= F.lit(wall_string(window_floor)).cast(
                existing.schema[ts_col].dataType
            )
        )
    existing_keys = F.broadcast(existing.select(key_col).distinct())
    fresh = deduped.join(existing_keys, on=key_col, how="left_anti")
    fresh = fresh.localCheckpoint(eager=False)
    return target_df.unionByName(fresh), fresh


def idempotent_append(
    target_df: DataFrame,
    batch_df: DataFrame,
    key_col: str = "guid",
    ts_col: str = "created_at",
    window_floor: dt.datetime | None = None,
) -> DataFrame:
    """Append batch rows whose key is not already present (W1/T3) — the
    union-only view of :func:`idempotent_merge`."""
    merged, _fresh = idempotent_merge(
        target_df, batch_df, key_col=key_col, ts_col=ts_col, window_floor=window_floor
    )
    return merged


__all__ = [
    "idempotent_append",
    "idempotent_merge",
    "ingest_watermark",
    "normalize_envelope",
    "validate_events",
]
