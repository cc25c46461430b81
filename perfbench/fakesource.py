"""Fake Cloud Controller ``/v2/events`` source for the pipeline workloads.

The source is a time-sorted in-memory log of ready-made event resources.
A request for ``q=timestamp>T`` is answered by bisecting the log, so the
cost of serving a page does not grow with the log.

Pages of one query stay stable while the log grows: the first page pins
the log length in the ``upto`` parameter of ``next_url``.
"""

from __future__ import annotations

import bisect
import datetime as dt
import random
import threading
import uuid
from urllib.parse import parse_qs, urlsplit

TIME_FORMAT = "%Y-%m-%dT%H:%M:%SZ"
EVENT_TYPES = (
    "audit.app.create",
    "audit.app.update",
    "audit.app.start",
    "audit.app.stop",
    "audit.space.create",
    "audit.user.login",
)
ACTEE_TYPES = ("app", "space", "organization", "user")


def new_guid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def make_resource(rng: random.Random, guid: str, epoch_s: int) -> dict:
    """One ``/v2/events`` resource in the reference's envelope shape."""
    stamp = dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        TIME_FORMAT
    )
    actor = rng.randrange(500)
    actee = rng.randrange(5000)
    org = rng.randrange(20)
    return {
        "metadata": {
            "guid": guid,
            "url": f"/v2/events/{guid}",
            "created_at": stamp,
            "updated_at": None,
        },
        "entity": {
            "type": EVENT_TYPES[rng.randrange(len(EVENT_TYPES))],
            "actor": f"actor-{actor:04d}",
            "actor_type": "user",
            "actor_name": f"name-{actor:04d}",
            "actor_username": f"user{actor:04d}@example.org",
            "actee": f"actee-{actee:05d}",
            "actee_type": ACTEE_TYPES[actee % len(ACTEE_TYPES)],
            "actee_name": f"actee-name-{actee:05d}",
            "timestamp": stamp,
            "metadata": {"request": {"instances": rng.randrange(1, 9)}},
            "organization_guid": f"org-{org:02d}" if org else "",
            "space_guid": f"space-{rng.randrange(100):03d}" if org else "",
        },
    }


class EventLog:
    """Append-only, time-sorted event log served as paginated pages."""

    def __init__(self) -> None:
        self.times: list[int] = []
        self.resources: list[dict] = []
        self.served = 0  # events handed out, overlap re-reads included
        self._lock = threading.Lock()

    def append(self, epoch_s: int, resource: dict) -> None:
        """Add one event; timestamps must not decrease."""
        with self._lock:
            if self.times and epoch_s < self.times[-1]:
                raise ValueError("event log must stay time-sorted")
            self.resources.append(resource)
            self.times.append(epoch_s)

    def __call__(self, url: str) -> dict:
        parts = urlsplit(url)
        params = parse_qs(parts.query)
        q = params["q"][0]
        if not q.startswith("timestamp>"):
            raise ValueError(f"unsupported query {q!r}")
        since = dt.datetime.strptime(q[len("timestamp>"):], TIME_FORMAT)
        since_s = int(since.replace(tzinfo=dt.timezone.utc).timestamp())
        per_page = int(params["results-per-page"][0])
        page = int(params.get("page", ["1"])[0])
        with self._lock:
            upto = int(params.get("upto", [len(self.times)])[0])
            first = bisect.bisect_right(self.times, since_s, 0, upto)
        lo = first + (page - 1) * per_page
        hi = min(lo + per_page, upto)
        total = upto - first
        total_pages = max(1, -(-total // per_page))
        next_url = None
        if hi < upto:
            next_url = (
                f"{parts.path}?q={q}&results-per-page={per_page}"
                f"&page={page + 1}&upto={upto}"
            )
        body = {
            "total_results": total,
            "total_pages": total_pages,
            "next_url": next_url,
            "resources": self.resources[lo:hi],
        }
        self.served += hi - lo
        return body
