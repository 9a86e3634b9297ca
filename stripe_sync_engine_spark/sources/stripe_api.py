"""Stripe-API source abstraction.

The reference talks to the real Stripe REST API (paginated ``list`` scans
at 100 items/page, point ``retrieve``, per-parent fan-out —
stripeSync.ts:780-1058). This engine defines the same surface as a
protocol and ships an in-memory implementation used by tests and the
backfill layer (network clients are out of scope for this container; the
protocol is the seam where a real HTTP client would plug in).

Scan shape at scale: a paginated cursor API is inherently driver-serial
per entity, so the backfill layer parallelizes ACROSS entities and across
``created``-range windows (the reference's own guidance for >10k objects,
README.md:99-100), and each page-batch becomes an Arrow local relation
(``session.local_frame``) feeding the merge pipeline.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Protocol

PAGE_SIZE = 100  # reference stripeSync.ts:783 (limit: 100)
FLUSH_CHUNK = 250  # reference stripeSync.ts:1037 (upsert every 250)


class StripeAPI(Protocol):
    def retrieve(self, entity: str, obj_id: str) -> dict | None: ...

    def list(self, entity: str, created: dict | None = None) -> Iterator[list[dict]]: ...

    def list_line_items(self, session_id: str) -> list[dict]: ...

    def list_expanded(self, entity: str, obj_id: str, prop: str) -> list[dict]: ...

    def list_by_parent(self, entity: str, parent_field: str, parent_id: str) -> list[dict]: ...


class InMemoryStripeAPI:
    """Deterministic in-memory Stripe: objects registered per entity;
    list() pages newest-first like the real API."""

    def __init__(self) -> None:
        self.objects: dict[str, dict[str, dict]] = {}
        self.line_items: dict[str, list[dict]] = {}
        self.expanded: dict[tuple[str, str, str], list[dict]] = {}
        self.retrieve_calls: list[tuple[str, str]] = []

    def put(self, entity: str, obj: dict) -> None:
        self.objects.setdefault(entity, {})[obj["id"]] = obj

    def put_line_items(self, session_id: str, items: list[dict]) -> None:
        self.line_items[session_id] = items

    def put_expanded(self, entity: str, obj_id: str, prop: str, items: list[dict]) -> None:
        self.expanded[(entity, obj_id, prop)] = items

    def retrieve(self, entity: str, obj_id: str) -> dict | None:
        self.retrieve_calls.append((entity, obj_id))
        return self.objects.get(entity, {}).get(obj_id)

    def list(self, entity: str, created: dict | None = None) -> Iterator[list[dict]]:
        objs = sorted(
            self.objects.get(entity, {}).values(),
            key=lambda o: (-(o.get("created") or 0), o["id"]),
        )
        if created:
            def ok(o):
                c = o.get("created") or 0
                return (
                    ("gt" not in created or c > created["gt"])
                    and ("gte" not in created or c >= created["gte"])
                    and ("lt" not in created or c < created["lt"])
                    and ("lte" not in created or c <= created["lte"])
                )

            objs = [o for o in objs if ok(o)]
        for i in range(0, len(objs), PAGE_SIZE):
            yield objs[i : i + PAGE_SIZE]

    def list_line_items(self, session_id: str) -> list[dict]:
        return self.line_items.get(session_id, [])

    def list_expanded(self, entity: str, obj_id: str, prop: str) -> list[dict]:
        return self.expanded.get((entity, obj_id, prop), [])

    def list_by_parent(self, entity: str, parent_field: str, parent_id: str) -> list[dict]:
        return [
            o for o in self.objects.get(entity, {}).values()
            if o.get(parent_field) == parent_id
        ]


def to_json_rows(objs: list[dict]) -> list[str]:
    return [json.dumps(o) for o in objs]
