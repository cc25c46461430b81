"""The ``pipeline`` workload: a service catches up on a backlog, then tails.

It drives ``runner.Service`` through its public ticks, with the fake source
of ``fakesource.py`` as its ``Transport`` and ``RecordingSender`` as its
``Sender``, over a warehouse whose shipped history was bulk-loaded.

- Catch-up (closed loop): the source holds a backlog of events a few to a
  second; one collector tick pulls it in pages of 100, then shipper ticks
  run until all of it is delivered.  Per-event cost dominates: the write
  side of ``stores``, envelope decode and payload serialisation.  The
  first backlog warms the JVM up; the others are measured.
- Live tail (open loop): a generator thread feeds the source at 500
  events/s while collector, shipper and informer ticks run back to back.
  Fixed per-tick cost dominates: the watermark MAX over history, the
  overlap-key scan, the cursor read and swap, job scheduling.

Shipping stops once every generated guid has been delivered, not when a
tick ships nothing: the cursor's ``>=`` bound re-ships the events that
share its second on every tick, so a tick never ships zero.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import sys
import threading
import time

from pyspark.sql import functions as F

from paas_auditor_spark.config import EngineConfig
from paas_auditor_spark.logs import JsonLogger
from paas_auditor_spark.runner import SHIPPER_NAME, Service
from paas_auditor_spark.schemas import CF_AUDIT_EVENT
from paas_auditor_spark.stores import ParquetStore

from cpu import Meter
from fakesource import EventLog, make_resource, new_guid
from spans import TimedStore, Tracer, timed_transport

PAGE_SIZE = 100
# BASELINE.md: 100 events per >= 200 ms page (fetch), 8192 events per
# 15 s tick (ship) -- the reference's envelope.
BASE_FETCH_EPS = 500.0
BASE_SHIP_EPS = 546.0
# the shipper's own delivery-failure counter (reference
# pkg/shippers/metrics.go)
SEND_ERRORS = SHIPPER_NAME.replace("-", "_") + "_shipper_errors_total"


class RecordingSender:
    """Sink that records each delivery's guid and arrival time."""

    def __init__(self) -> None:
        self.guids: list[str] = []
        self.times: list[float] = []
        self.busy_s = 0.0

    def __call__(self, payload: str) -> None:
        t0 = time.perf_counter()
        i = payload.index('"guid":"') + 8
        self.guids.append(payload[i:payload.index('"', i)])
        t1 = time.perf_counter()
        self.times.append(t1)
        self.busy_s += t1 - t0


class Pipeline:
    """One ``Service`` over a fresh warehouse, ticked by the benchmark."""

    def __init__(self, spark, workdir: str, log: EventLog, tracer: Tracer,
                 jobs) -> None:
        shutil.rmtree(workdir, ignore_errors=True)
        os.makedirs(workdir)
        self.spark = spark
        self.log = log
        self.tracer = tracer
        self.jobs = jobs
        self.sender = RecordingSender()
        self.cpu = Meter(spark)
        store = ParquetStore(spark, os.path.join(workdir, "warehouse"))
        transport = log
        if tracer.enabled:
            store = TimedStore(store, tracer)
            transport = timed_transport(log, tracer)
        self.service = Service(
            spark, transport=transport, sender=self.sender, store=store,
            cfg=EngineConfig(pagination_wait_s=0.0, page_size=PAGE_SIZE),
            logger=JsonLogger(sink=sys.stderr),
        )
        self.created_s: dict[str, int] = {}  # guid -> created_at second
        self.cursor: tuple[int, str] | None = None
        self.delivered: set[str] = set()
        self.first_delivery: dict[str, float] = {}
        self.ticks = 0
        self.failed_ticks = 0
        self.violations: list[str] = []  # each one is a failed operation
        self.tick_seq = 0

    def tick(self, kind: str) -> None:
        """Run one tick under its own job group."""
        fn = getattr(self.service, f"{kind}_tick")
        self.tick_seq += 1
        group = f"{kind}-{self.tick_seq}"
        self.spark.sparkContext.setJobGroup(group, group)
        n_before = len(self.sender.guids)
        try:
            with self.tracer.span(f"tick.{kind}", op=group):
                sink_before = self.sender.busy_s
                try:
                    fn()
                finally:
                    self.tracer.add("sink.send",
                                    self.sender.busy_s - sink_before)
        except Exception as ex:  # a failed tick is a failed operation
            self.failed_ticks += 1
            print(f"# {group} failed: {ex!r}", file=sys.stderr)
        self.ticks += 1
        self.jobs.record(group)
        if kind == "shipper":
            self._after_ship(n_before)

    def _after_ship(self, n_before: int) -> None:
        guids = self.sender.guids[n_before:]
        times = self.sender.times[n_before:]
        prev = self.cursor
        last = None
        for g, t in zip(guids, times):
            sec = self.created_s.get(g)
            self.check(sec is not None, f"unknown guid {g}")
            key = (sec or 0, g)
            self.check(last is None or key > last,
                       f"out-of-order delivery {g}")
            last = key
            if g in self.delivered:
                # at-least-once: only events sharing the cursor's second
                # may be delivered again
                self.check(prev is not None and sec == prev[0],
                           f"duplicate {g} off the cursor second")
            else:
                self.delivered.add(g)
                self.first_delivery[g] = t
        if last is not None:
            self.check(prev is None or last >= prev, "cursor moved backwards")
            self.cursor = last

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.violations.append(what)

    def counts(self) -> dict[str, float]:
        return {"served": self.log.served,
                "send_failures": self.service.metrics.get(SEND_ERRORS),
                "collected": self.service.totals.collected,
                "deliveries": len(self.sender.guids),
                "distinct": len(self.delivered)}

    def covered(self, guids) -> bool:
        return all(g in self.delivered for g in guids)

    def final_checks(self, expected_rows: int) -> None:
        store = self.service.store
        events = store.events_df()
        row = events.agg(F.count(F.lit(1)).alias("n"),
                         F.countDistinct("guid").alias("d")).first()
        self.check(row["n"] == expected_rows,
                   f"bronze rows {row['n']} != {expected_rows}")
        self.check(row["d"] == expected_rows,
                   f"bronze distinct guids {row['d']} != {expected_rows}")
        ts, guid = store.effective_cursor(SHIPPER_NAME)
        epoch = int(ts.replace(tzinfo=dt.timezone.utc).timestamp())
        self.check(self.cursor == (epoch, guid),
                   f"stored cursor {(epoch, guid)} != {self.cursor}")

    def files(self) -> int:
        root = self.service.paths["cf_audit_events"]
        return sum(f.endswith(".parquet") for f in os.listdir(root))

    @property
    def deliveries(self) -> int:
        return len(self.sender.guids)


def add_backlog(log: EventLog, created: dict, rng: random.Random, n: int,
                start_s: int, per_second: float) -> list[str]:
    """Append ``n`` events to ``log``, on average ``per_second`` to a
    second, from ``start_s`` on; returns their guids."""
    guids = []
    t = start_s
    for _ in range(n):
        if rng.random() < 1.0 / per_second:
            t += 1
        g = new_guid(rng)
        created[g] = t
        log.append(t, make_resource(rng, g, t))
        guids.append(g)
    return guids


def drain(p: Pipeline, guids, max_ticks: int) -> bool:
    """Shipper ticks until every guid in ``guids`` is delivered."""
    for _ in range(max_ticks):
        if p.covered(guids):
            return True
        p.tick("shipper")
    return p.covered(guids)


HISTORY_EVENTS = 100_000
HISTORY_DAYS = 31
HISTORY_LOADS = 3  # an odd count: the median is one real set-up
# more than one shipper batch (8192), so shipping a backlog takes two ticks
BACKLOG_EVENTS = 12_000
BACKLOG_PER_SECOND = 4.0
CATCHUP_ROUNDS = 3  # the first one warms the JVM up
LIVE_RATE = 500.0  # events/s: the reference's fetch ceiling (BASELINE.md)
LIVE_WARMUP_CYCLES = 1


def load_history(spark, store: ParquetStore, seed: int, n: int,
                 end_s: int) -> tuple[int, str]:
    """Bulk-load ``n`` shipped events spread over ``HISTORY_DAYS`` days
    ending at ``end_s``, bypassing the collector; returns the last
    (second, guid), where the shipper cursor is set."""
    span = HISTORY_DAYS * 86400
    start = end_s - span
    h = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("id").cast("string")))
    guid = F.concat_ws("-", h.substr(1, 8), h.substr(9, 4), h.substr(13, 4),
                       h.substr(17, 4), h.substr(21, 12))
    secs = F.lit(start) + (F.col("id") * F.lit(span) / F.lit(n)).cast("long")
    cols = {
        "guid": guid,
        "created_at": F.timestamp_seconds(secs),
        "event_type": F.lit("audit.app.update"),
        "metadata": F.lit('{"request":{"instances":1}}'),
    }
    fields = []
    for f in CF_AUDIT_EVENT.fields:
        c = cols.get(f.name)
        if c is None:
            c = F.concat(F.lit(f"{f.name}-"),
                         (F.col("id") % 997).cast("string"))
        fields.append(c.cast(f.dataType).alias(f.name))
    df = spark.range(n).select(*fields)
    store.append_events(df)
    last = (df.orderBy(F.col("created_at").desc(), F.col("guid").desc())
            .select(F.unix_timestamp("created_at").alias("s"), "guid").first())
    wall = dt.datetime.fromtimestamp(last["s"], dt.timezone.utc)
    store.upsert_cursor(SHIPPER_NAME, wall.replace(tzinfo=None), last["guid"])
    return int(last["s"]), last["guid"]


class Generator(threading.Thread):
    """Open-loop source feed: event ``i`` is due at ``t0 + i / rate`` and is
    stamped with the wall-clock second at which it is appended."""

    def __init__(self, log: EventLog, rng: random.Random, rate: float,
                 created: dict) -> None:
        super().__init__(daemon=True)
        self.log = log
        self.rng = rng
        self.rate = rate
        self.created = created
        self.due: dict[str, float] = {}
        self.order: list[str] = []
        self.late: list[float] = []
        self.stop_at: float | None = None
        self.t0 = time.perf_counter()
        self._halt = threading.Event()
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self._feed()
        except BaseException as ex:  # surfaced by the workload after join
            self.error = ex

    def _feed(self) -> None:
        i = 0
        last_s = 0
        while not self._halt.is_set():
            due = self.t0 + i / self.rate
            if self.stop_at is not None and due >= self.stop_at:
                return
            now = time.perf_counter()
            if due > now:
                self._halt.wait(due - now)
                continue
            sec = max(last_s, int(time.time()))
            last_s = sec
            g = new_guid(self.rng)
            self.created[g] = sec
            self.due[g] = due
            self.order.append(g)
            self.log.append(sec, make_resource(self.rng, g, sec))
            self.late.append(time.perf_counter() - due)
            i += 1

    def halt(self) -> None:
        self._halt.set()


def setup(spark, seed, workdir, tracer, jobs) -> tuple[Pipeline, float]:
    """A fresh warehouse holding the shipped history; returns it and the
    time taken."""
    t0 = time.perf_counter()
    p = Pipeline(spark, workdir, EventLog(), tracer, jobs)
    bare = p.service.store.inner if tracer.enabled else p.service.store
    last_s, last_g = load_history(spark, bare, seed, HISTORY_EVENTS,
                                  int(time.time()) - 6 * 3600)
    p.cursor = (last_s, last_g)
    p.created_s[last_g] = last_s
    return p, time.perf_counter() - t0


def cycle(p: Pipeline) -> None:
    for kind in ("collector", "shipper", "informer"):
        p.tick(kind)


def catch_up(p: Pipeline, rng: random.Random) -> dict:
    """One backlog round: source set-up, one collector tick, shipper ticks
    until the backlog is delivered."""
    start = max(p.created_s.values()) + 60
    guids = add_backlog(p.log, p.created_s, rng, BACKLOG_EVENTS, start,
                        BACKLOG_PER_SECOND)
    c0 = p.cpu()
    t0 = time.perf_counter()
    p.tick("collector")
    t1 = time.perf_counter()
    ok = drain(p, guids, max_ticks=BACKLOG_EVENTS // 8000 + 4)
    t2 = time.perf_counter()
    cpu_s = p.cpu() - c0
    p.check(ok, "not every backlog guid was delivered")
    return {"n": len(guids), "wall_s": t2 - t0, "collect_s": t1 - t0,
            "ship_s": t2 - t1, "cpu_s": cpu_s}


def run_pipeline(spark, seed, seconds, workdir, tracer, jobs) -> dict:
    """Set up, catch up, then tail: measure the events due in whole cycles
    spanning at least ``seconds`` (a window cut mid-cycle would make
    freshness depend on where the cut falls); the generator stops at the
    window's end and the pipeline drains."""
    rng = random.Random(seed)
    setup_times = []
    for k in range(HISTORY_LOADS):
        p, s = setup(spark, seed, os.path.join(workdir, f"wh{k}"), tracer,
                     jobs)
        setup_times.append(s)
    tracer.phase = "warmup"
    catch_up(p, rng)
    tracer.phase = "catchup"
    rounds = [catch_up(p, rng) for _ in range(CATCHUP_ROUNDS - 1)]
    tracer.phase = "warmup"
    gen = Generator(p.log, rng, LIVE_RATE, p.created_s)
    gen.start()
    try:
        t_warm = time.perf_counter()
        for _ in range(LIVE_WARMUP_CYCLES):
            cycle(p)
        tracer.phase = "live"
        window_start = time.perf_counter()
        cpu_start = p.cpu()
        before = p.counts()
        cycles = 0
        while not cycles or time.perf_counter() - window_start < seconds:
            cycle(p)
            cycles += 1
        window_end = gen.stop_at = time.perf_counter()
        cycle_cpu = (p.cpu() - cpu_start) / cycles
        gen.join(timeout=5.0)
        p.check(not gen.is_alive() and gen.error is None,
                       f"generator did not finish cleanly: {gen.error!r}")
        for _ in range(20):
            if p.covered(gen.order):
                break
            p.tick("collector")
            drain(p, gen.order, max_ticks=1)
        live = {k: v - before[k] for k, v in p.counts().items()}
    finally:
        gen.halt()
        gen.join(timeout=5.0)
    p.check(p.covered(gen.order), "not every live guid was delivered")
    p.final_checks(HISTORY_EVENTS + CATCHUP_ROUNDS * BACKLOG_EVENTS
                   + len(gen.order))
    measured = [g for g in gen.order
                if window_start <= gen.due[g] < window_end]
    return {
        "setup_times": setup_times, "pipeline": p, "generator": gen,
        "rounds": rounds, "live_counts": live,
        "measured": len(measured), "cycles": cycles,
        "cycle_cpu_s": cycle_cpu,
        "freshness": [p.first_delivery[g] - gen.due[g] for g in measured
                      if g in p.first_delivery],
        "warmup_s": window_start - t_warm,
    }
