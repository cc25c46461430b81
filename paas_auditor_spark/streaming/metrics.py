"""Pipeline observability: the reference's 9 metrics (README.md:45-58),
same names, backed by a plain dict registry that renders the Prometheus
text exposition served on /metrics (W6/T6 in SURVEY.md §2.6/§2.7).

Every loop updates it in the service process: the batch ticks directly,
the streaming ``foreachBatch`` handlers with counts taken by ``df.observe``.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

COUNTERS = (
    "cf_audit_event_collector_collect_duration_total",
    "cf_audit_event_collector_errors_total",
    "cf_audit_event_collector_events_collected_total",
    "cf_audit_events_to_splunk_shipper_errors_total",
    "cf_audit_events_to_splunk_shipper_events_shipped_total",
    "cf_audit_events_to_splunk_shipper_ship_duration_total",
)
GAUGES = (
    "cf_audit_events_to_splunk_shipper_latest_event_timestamp",
    "informer_cf_audit_events_total",
    "informer_latest_cf_audit_event_timestamp",
)
HELP = {
    "cf_audit_event_collector_collect_duration_total":
        "Seconds spent collecting CF audit events.",
    "cf_audit_event_collector_errors_total":
        "Failed CF audit event collections.",
    "cf_audit_event_collector_events_collected_total":
        "CF audit events collected and stored.",
    "cf_audit_events_to_splunk_shipper_errors_total":
        "Failed event deliveries to the sink.",
    "cf_audit_events_to_splunk_shipper_events_shipped_total":
        "Events delivered to the sink.",
    "cf_audit_events_to_splunk_shipper_ship_duration_total":
        "Seconds spent shipping events.",
    "cf_audit_events_to_splunk_shipper_latest_event_timestamp":
        "Unix time of the latest shipped event.",
    "informer_cf_audit_events_total":
        "Stored CF audit events (approximate).",
    "informer_latest_cf_audit_event_timestamp":
        "Unix time of the latest stored CF audit event.",
}
_REFERENCE_SHIPPER = "cf_audit_events_to_splunk_shipper_"


def _help(name: str) -> str:
    # a custom shipper's metrics mean what the reference shipper's do
    _, sep, suffix = name.partition("_shipper_")
    return HELP.get(_REFERENCE_SHIPPER + suffix if sep else name, name)


@dataclass
class MetricsRegistry:
    """Thread-safe counter/gauge registry with the reference's metric names."""

    values: dict[str, float] = field(
        default_factory=lambda: {name: 0.0 for name in COUNTERS + GAUGES}
    )
    # Prometheus type of each name: the first call that registers a name
    # lazily decides it (``inc`` → counter, ``set`` → gauge)
    types: dict[str, str] = field(
        default_factory=lambda: {
            **{name: "counter" for name in COUNTERS},
            **{name: "gauge" for name in GAUGES},
        }
    )
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def inc(self, name: str, amount: float = 1.0) -> None:
        # unknown names register lazily (prometheus-client semantics):
        # a custom shipper name must not crash the tick AFTER delivery
        # but BEFORE the cursor commit — that would re-ship the batch
        # forever.  The 9 reference names stay pre-registered above.
        with self._lock:
            self.types.setdefault(name, "counter")
            self.values[name] = self.values.get(name, 0.0) + amount

    def set(self, name: str, value: float) -> None:
        with self._lock:
            self.types.setdefault(name, "gauge")
            self.values[name] = value

    def get(self, name: str) -> float:
        with self._lock:
            return self.values[name]

    def render_text(self) -> str:
        """Prometheus text exposition (what /metrics serves): a ``# HELP``
        and a ``# TYPE`` line before each sample."""
        with self._lock:
            return "".join(
                f"# HELP {k} {_help(k)}\n"
                f"# TYPE {k} {self.types[k]}\n"
                f"{k} {v}\n"
                for k, v in sorted(self.values.items())
            )


__all__ = ["COUNTERS", "GAUGES", "HELP", "MetricsRegistry"]
