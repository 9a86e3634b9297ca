"""Seeded input generator for the benchmark workloads.

Everything here is plain Python: it imports nothing from the engine, so
the engine sees only the generated inputs. The same seed always yields the same inputs.

Event times are unique per object id: a normal event takes the next even
tick of a global clock, and a late event takes an odd tick below the
object's latest event that no earlier event of that object used. So the
engine's event-id tie-break never decides a winner, and the reference
model is simply "the latest ``created`` wins".
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

EVENT_BASE = 1_700_000_000
#: the vocabulary of the sf0.1 ``documents`` table: 31 words, each about
#: equally frequent
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SUB_STATUSES = ("active", "active", "active", "trialing", "past_due", "canceled")
INV_STATUSES = ("draft", "open", "paid", "paid")
CH_STATUSES = ("succeeded", "succeeded", "succeeded", "failed", "pending")

# ---------------------------------------------------------------------------
# Stripe objects
# ---------------------------------------------------------------------------


def _customer(rng: random.Random, cid: str, custkey: int, created: int) -> dict:
    return {
        "id": cid,
        "object": "customer",
        "email": f"{cid}.{rng.randrange(10_000)}@example.com",
        "name": f"Customer {custkey}",
        "balance": rng.randrange(-5000, 5000),
        "created": created,
        "metadata": {"custkey": str(custkey)},
    }


def _product(rng: random.Random, pid: str, created: int) -> dict:
    return {
        "id": pid,
        "object": "product",
        "name": f"Plan {pid} v{rng.randrange(100)}",
        "active": rng.random() < 0.9,
        "created": created,
    }


def _price(rng: random.Random, pid: str, product: str, created: int) -> dict:
    return {
        "id": pid,
        "object": "price",
        "product": product,
        "unit_amount": rng.randrange(100, 10_000),
        "currency": "usd",
        "type": "recurring",
        "active": True,
        "created": created,
    }


def _subscription(
    rng: random.Random, sid: str, customer: str, items: list[tuple[str, str]], created: int
) -> dict:
    return {
        "id": sid,
        "object": "subscription",
        "customer": customer,
        "status": rng.choice(SUB_STATUSES),
        "created": created,
        "items": {
            "object": "list",
            "has_more": False,
            "data": [
                {
                    "id": iid,
                    "object": "subscription_item",
                    "price": price,
                    "quantity": rng.randrange(1, 6),
                    "subscription": sid,
                    "deleted": False,
                    "created": created,
                }
                for iid, price in items
            ],
        },
    }


def _invoice(rng: random.Random, iid: str, customer: str, sub: str | None, created: int) -> dict:
    total = rng.randrange(500, 50_000)
    return {
        "id": iid,
        "object": "invoice",
        "customer": customer,
        "subscription": sub,
        "status": rng.choice(INV_STATUSES),
        "total": total,
        "amount_due": total,
        "currency": "usd",
        "created": created,
    }


def _charge(rng: random.Random, cid: str, customer: str, invoice: str | None, created: int) -> dict:
    return {
        "id": cid,
        "object": "charge",
        "amount": rng.randrange(100, 100_000),
        "customer": customer,
        "invoice": invoice,
        "status": rng.choice(CH_STATUSES),
        "currency": "usd",
        "paid": True,
        "created": created,
    }


# ---------------------------------------------------------------------------
# Webhook event stream
# ---------------------------------------------------------------------------

BURST_SIZE = {"l": 200}
#: customer.deleted events per 200-event burst (the only batches with
#: deletes, so every cycle runs the same number of delete merges)
DELETES_PER_BURST = 2
ENTITY_TYPES = ("charges", "customers", "invoices", "subscriptions", "products", "prices")


#: the small batches of one webhook stream cycle: (entity types, events).
#: Subscriptions, whose items explode into a second table, come in the
#: burst only: a small batch of them takes twice as long as the others and
#: would carry most of the small-batch mean and its noise.
SMALL_BATCHES = ((("customers",), 2), (("invoices",), 5), (("charges",), 8), (("charges", "customers"), 10))


def cycle_kinds() -> list:
    """Batches of one webhook stream cycle: the small batches, then a
    200-event mixed burst ("l"). Every seed times the same mix of types
    and sizes; only the events vary."""
    return [*SMALL_BATCHES, ("l", BURST_SIZE["l"])]


@dataclass
class Event:
    event_id: str
    type: str
    created: int
    obj: dict
    late: bool = False

    def payload(self) -> str:
        return json.dumps(
            {
                "id": self.event_id,
                "object": "event",
                "type": self.type,
                "created": self.created,
                "data": {"object": self.obj},
            },
            sort_keys=True,
        )


@dataclass
class EventStream:
    """A growing Stripe account that emits signed webhook batches.

    ``late_share`` of the events re-send an OLDER version of an object
    that an earlier batch already delivered, with an older ``created``:
    each must lose to the stored row (timestamp protection)."""

    seed: int
    prefix: str = ""
    late_share: float = 0.05
    rng: random.Random = field(init=False)
    clock: int = field(init=False)
    n_events: int = 0
    # entity -> id -> latest emitted object
    objects: dict = field(default_factory=dict)
    # id -> created ticks used by its events
    used_ticks: dict = field(default_factory=dict)
    # id -> (tick, entity, object, event type) of its non-late events
    history: dict = field(default_factory=dict)
    deleted: set = field(default_factory=set)
    delivered: set = field(default_factory=set)
    #: added to every event's ``created`` (not to the objects' own
    #: ``created``): events sent after a backfill must be newer than it
    time_shift: int = 0

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.clock = EVENT_BASE

    def _next_tick(self) -> int:
        self.clock += 2
        return self.clock

    def _ids(self, entity: str) -> list[str]:
        return list(self.objects.get(entity, {}))

    def _emit(self, entity: str, etype: str, obj: dict, tick: int, late: bool = False) -> Event:
        self.n_events += 1
        oid = obj["id"]
        self.used_ticks.setdefault(oid, set()).add(tick)
        if not late:
            self.objects.setdefault(entity, {})[oid] = obj
            self.history.setdefault(oid, []).append((tick, entity, obj, etype))
        return Event(f"evt_{self.prefix}{self.n_events:09d}", etype, tick + self.time_shift, obj, late)

    def _new_object(self, entity: str) -> tuple[str, dict]:
        rng, p = self.rng, self.prefix
        n = len(self.objects.get(entity, {}))
        created = self.clock
        if entity == "customers":
            cid = f"cus_{p}{n}"
            return cid, _customer(rng, cid, n, created)
        if entity == "products":
            return f"prod_{p}{n}", _product(rng, f"prod_{p}{n}", created)
        if entity == "prices":
            prods = self._ids("products") or [f"prod_{p}x"]
            return f"price_{p}{n}", _price(rng, f"price_{p}{n}", rng.choice(prods), created)
        customers = [c for c in self._ids("customers") if c not in self.deleted] or [f"cus_{p}x"]
        if entity == "subscriptions":
            sid = f"sub_{p}{n}"
            prices = self._ids("prices") or [f"price_{p}x"]
            items = [(f"si_{p}{n}_{j}", rng.choice(prices)) for j in range(rng.randint(1, 3))]
            return sid, _subscription(rng, sid, rng.choice(customers), items, created)
        if entity == "invoices":
            subs = self._ids("subscriptions")
            sub = rng.choice(subs) if subs and rng.random() < 0.7 else None
            return f"in_{p}{n}", _invoice(rng, f"in_{p}{n}", rng.choice(customers), sub, created)
        invs = self._ids("invoices")
        inv = rng.choice(invs) if invs and rng.random() < 0.5 else None
        return f"ch_{p}{n}", _charge(rng, f"ch_{p}{n}", rng.choice(customers), inv, created)

    def _update(self, entity: str, oid: str) -> dict:
        """A new version of an existing object (same id, same creation
        time, same item set for subscriptions)."""
        rng, old = self.rng, self.objects[entity][oid]
        obj = json.loads(json.dumps(old))
        if entity == "customers":
            obj["email"] = f"{oid}.{rng.randrange(10_000)}@example.com"
            obj["balance"] = rng.randrange(-5000, 5000)
        elif entity == "products":
            obj["name"] = f"Plan {oid} v{rng.randrange(100)}"
            obj["active"] = rng.random() < 0.9
        elif entity == "prices":
            obj["unit_amount"] = rng.randrange(100, 10_000)
        elif entity == "subscriptions":
            obj["status"] = rng.choice(SUB_STATUSES)
            for it in obj["items"]["data"]:
                it["quantity"] = rng.randrange(1, 6)
        elif entity == "invoices":
            obj["status"] = rng.choice(INV_STATUSES)
            obj["total"] = obj["amount_due"] = rng.randrange(500, 50_000)
        else:
            obj["status"] = rng.choice(CH_STATUSES)
            obj["amount"] = rng.randrange(100, 100_000)
        return obj

    _TYPES = {
        "customers": ("customer.created", "customer.updated"),
        "products": ("product.created", "product.updated"),
        "prices": ("price.created", "price.updated"),
        "subscriptions": ("customer.subscription.created", "customer.subscription.updated"),
        "invoices": ("invoice.created", "invoice.updated"),
        "charges": ("charge.succeeded", "charge.updated"),
    }

    def _one(self, entity: str, delete: bool = False) -> Event:
        """One fresh (non-late) event for ``entity``: a create or an update
        of a live object; with ``delete`` (customers only) the delete of
        one that an earlier batch delivered, when there is one."""
        rng = self.rng
        tick = self._next_tick()
        live = [i for i in self._ids(entity) if i not in self.deleted]
        old = [i for i in live if i in self.delivered]
        if delete and old:
            cid = rng.choice(old)
            self.deleted.add(cid)
            return self._emit(entity, "customer.deleted", {"id": cid, "object": "customer", "deleted": True}, tick)
        if live and rng.random() < 0.5:
            oid = rng.choice(live)
            return self._emit(entity, self._TYPES[entity][1], self._update(entity, oid), tick)
        oid, obj = self._new_object(entity)
        return self._emit(entity, self._TYPES[entity][0], obj, tick)

    def populate(self, counts: dict[str, int]) -> None:
        """Create ``counts[entity]`` objects per entity, in the order given
        (parents first), without emitting events: the account a backfill
        reads."""
        for entity, n in counts.items():
            for _ in range(n):
                oid, obj = self._new_object(entity)
                self.objects.setdefault(entity, {})[oid] = obj
                self.used_ticks.setdefault(oid, set()).add(self._next_tick())
                self.delivered.add(oid)

    def _late(self, entity: str) -> Event | None:
        """Re-send an older delivered version of a live ``entity`` object
        with a created tick below its latest event (and unused by it). The
        entity is the one the batch slot asked for, so late events leave
        every batch's mix of entity types as drawn."""
        rng = self.rng
        cands = [
            oid for oid in self.delivered
            if oid not in self.deleted and self.history.get(oid) and self.history[oid][-1][1] == entity
        ]
        if not cands:
            return None
        oid = rng.choice(sorted(cands))
        hist = self.history[oid]
        tick, entity, obj, etype = hist[rng.randrange(len(hist))]
        latest = hist[-1][0]
        used = self.used_ticks[oid]
        t = latest - 1 - 2 * rng.randrange(0, 20)
        while t in used:
            t -= 2
        return self._emit(entity, etype, obj, t, late=True)

    def batch(self, kind, n: int | None = None) -> list[Event]:
        """A small batch of the entity types in ``kind`` (a tuple; ``n``
        events, 1-10 when not given), or a mixed burst (``kind`` "l")."""
        rng = self.rng
        if isinstance(kind, tuple):
            n = n or rng.randint(len(kind), max(10, len(kind)))
            chosen = list(kind) + [rng.choice(kind) for _ in range(n - len(kind))]
        else:
            chosen = [rng.choice(ENTITY_TYPES) for _ in range(BURST_SIZE[kind])]
        deletes = DELETES_PER_BURST if kind == "l" else 0
        out = []
        for entity in chosen:
            ev = self._late(entity) if rng.random() < self.late_share else None
            if ev is None and entity == "customers" and deletes:
                deletes -= 1
                ev = self._one(entity, delete=True)
            out.append(ev or self._one(entity))
        self.delivered.update(e.obj["id"] for e in out)
        return out


def sign(secret: str, ts: int, payload: str) -> str:
    """Stripe ``t=...,v1=...`` header, computed independently of the engine."""
    import hmac

    mac = hmac.new(secret.encode(), f"{ts}.{payload}".encode(), hashlib.sha256).hexdigest()
    return f"t={ts},v1={mac}"


# ---------------------------------------------------------------------------
# Reference model of the synced tables
# ---------------------------------------------------------------------------


def reference_tables(
    events: list[Event], backfilled: dict[str, dict[str, dict]] | None = None
) -> dict[str, dict[str, dict]]:
    """Final rows per table as the engine must store them: per id the
    latest ``created`` wins (late events lose), subscription items are
    exploded with the parent's time, and a customer.deleted flags the
    customer while keeping its other columns. Rows carry ``_ts`` (the
    winning event's created), which the engine stores as last_synced_at.
    ``backfilled`` objects (entity -> id -> object) are the starting rows,
    older than every event; a backfill does not explode subscription
    items."""
    entity_of = {
        "customer": "customers", "product": "products", "price": "prices",
        "subscription": "subscriptions", "invoice": "invoices", "charge": "charges",
    }
    tables: dict[str, dict[str, dict]] = {
        entity: {
            oid: dict(obj, _ts=0, **({"deleted": False} if entity == "customers" else {}))
            for oid, obj in objs.items()
        }
        for entity, objs in (backfilled or {}).items()
    }
    for ev in sorted(events, key=lambda e: (e.created, e.event_id)):
        entity = entity_of[ev.obj["object"]]
        rows = tables.setdefault(entity, {})
        cur = rows.get(ev.obj["id"])
        if cur is not None and cur["_ts"] >= ev.created:
            continue
        if ev.type == "customer.deleted":
            row = dict(cur) if cur is not None else {"id": ev.obj["id"]}
            row["deleted"] = True
        else:
            row = dict(ev.obj)
            if entity == "customers":
                row["deleted"] = False
        row["_ts"] = ev.created
        rows[ev.obj["id"]] = row
        if entity == "subscriptions":
            items = tables.setdefault("subscription_items", {})
            for it in ev.obj["items"]["data"]:
                prev = items.get(it["id"])
                if prev is None or prev["_ts"] < ev.created:
                    items[it["id"]] = {**it, "deleted": False, "_ts": ev.created}
    return tables


# ---------------------------------------------------------------------------
# Corpus + mutation windows + incoming batches (corpus_cdc)
# ---------------------------------------------------------------------------

#: shape of the sf0.1 ``documents`` ⋈ ``embeddings`` corpus: 2000 docs of
#: 10-100 words (uniform over ``WORDS``), 64-dim unit-norm embeddings
N_DOCS = 2000
DOC_WORDS = (10, 100)
EMBED_DIM = 64


@dataclass
class Corpus:
    """Current corpus state: doc_id -> (text, embedding)."""

    seed: int
    n_docs: int = N_DOCS
    rng: random.Random = field(init=False)
    docs: dict = field(default_factory=dict)
    next_id: int = 0

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed * 104729 + 3)
        for _ in range(self.n_docs):
            self.docs[self.next_id] = (self.text(), self.vector())
            self.next_id += 1

    def text(self) -> str:
        rng = self.rng
        return " ".join(rng.choice(WORDS) for _ in range(rng.randint(*DOC_WORDS)))

    def vector(self) -> list[float]:
        v = [self.rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)]
        norm = sum(x * x for x in v) ** 0.5
        return [round(x / norm, 7) for x in v]

    def rows(self) -> list[tuple]:
        return [(i, t, v) for i, (t, v) in sorted(self.docs.items())]

    def mutate(self, n: int) -> None:
        """One producer window: ``n`` updates, ``n`` deletes, ``n`` inserts."""
        rng = self.rng
        ids = sorted(self.docs)
        dels = rng.sample(ids, n)
        dset = set(dels)
        ups = rng.sample([i for i in ids if i not in dset], n)
        for i in dels:
            del self.docs[i]
        for i in ups:
            self.docs[i] = (self.text(), self.docs[i][1])
        for _ in range(n):
            self.docs[self.next_id] = (self.text(), self.vector())
            self.next_id += 1

    def incoming(self, n_each: int = 150) -> list[tuple[int, str]]:
        """A gate batch: replays (same id and text), exact duplicates (new
        id, same text), near duplicates (new id, one word changed) and
        fresh documents, shuffled."""
        rng = self.rng
        cur = sorted(self.docs)
        out = []
        for i in rng.sample(cur, n_each):
            out.append((i, self.docs[i][0]))
        for i in rng.sample(cur, n_each):
            out.append((self._new_id(), self.docs[i][0]))
        for i in rng.sample(cur, n_each):
            words = self.docs[i][0].split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            out.append((self._new_id(), " ".join(words) + " " + rng.choice(WORDS)))
        for _ in range(n_each):
            out.append((self._new_id(), self.text()))
        rng.shuffle(out)
        return out

    def _new_id(self) -> int:
        self.next_id += 1
        return 10_000_000 + self.next_id

    def admit(self, docs: list[tuple[int, str]]) -> None:
        for i, t in docs:
            self.docs[i] = (t, self.vector())


def content_hash(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def exact_survivors(batch: list[tuple[int, str]], seen: set[str]) -> set[int]:
    """The exact gate's contract in Python: content never seen before,
    within-batch duplicates collapsed to the smallest doc id."""
    best: dict[str, int] = {}
    for i, t in batch:
        h = content_hash(t)
        if h in seen:
            continue
        if h not in best or i < best[h]:
            best[h] = i
    return set(best.values())


def query_terms(rng: random.Random, n: int = 3) -> list[str]:
    return rng.sample(WORDS, n)


# ---------------------------------------------------------------------------
# Backfill account + business tables (synced_sql)
# ---------------------------------------------------------------------------

#: objects per entity of the backfilled account, parents first (invoices
#: and charges arrive by webhook only: each backfilled entity costs
#: seconds of set-up)
ACCOUNT = {"products": 20, "prices": 40, "customers": 200, "subscriptions": 120}
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def business_tables(seed: int, n_customers: int) -> dict[str, dict[str, list]]:
    """TPC-H-shaped ``customer``, ``orders`` and ``lineitem`` columns (the
    columns and types of the sf0.1 tables that the queries read) for the
    ``n_customers`` business customers the Stripe customers' ``metadata.
    custkey`` points at. Money is whole cents, so sums are exact."""
    import datetime as dt

    rng = random.Random(seed * 7919 + 11)
    customer = {
        "c_custkey": list(range(n_customers)),
        "c_name": [f"Customer#{k:09d}" for k in range(n_customers)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_customers)],
        "c_acctbal": [rng.randrange(-99_999, 999_999) / 100 for _ in range(n_customers)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_customers)],
    }
    orders: dict[str, list] = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")}
    lineitem: dict[str, list] = {k: [] for k in ("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")}
    day0 = dt.datetime(1995, 1, 1)
    for ok in range(n_customers * 8):
        lines = [(rng.randrange(1, 51), rng.randrange(100_000, 10_000_000) / 100, rng.randrange(11) / 100)
                 for _ in range(rng.randint(1, 4))]
        orders["o_orderkey"].append(ok)
        orders["o_custkey"].append(rng.randrange(n_customers))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(round(sum(p for _, p, _ in lines), 2))
        orders["o_orderdate"].append(day0 + dt.timedelta(days=rng.randrange(2400)))
        for ln, (q, p, d) in enumerate(lines, 1):
            for col, v in zip(lineitem, (ok, ln, float(q), p, d)):
                lineitem[col].append(v)
    return {"customer": customer, "orders": orders, "lineitem": lineitem}
