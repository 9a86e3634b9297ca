"""The benchmark workloads.

Each workload has a ``setup`` (untimed, counted in ``setup_s``), a fixed
``cycle`` of operations the client runs in a closed loop (each operation
starts when the previous one returns), and a ``check`` run untimed after
the loop that compares the engine's outputs with an oracle. Every
operation belongs to one of four classes, ``a`` to ``d``; the end-to-end
metrics report each class's mean (see README.md for what the classes
are on each workload).
"""

from __future__ import annotations

import copy
import json
import os
import random
import shutil
import time

import gen

SECRET = "whsec_perfbench"
#: bucket count of every benchmark store (the engine's default of 32 sizes
#: a store for more cores than the 4 a benchmark host has; 4 keeps a
#: 48-run comparison under an hour)
N_BUCKETS = 4


class Workload:
    name = ""
    setup_reps = 1

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.mismatches: list[str] = []

    def mismatch(self, what: str) -> None:
        self.mismatches.append(what)

    def start(self) -> None:
        """Untimed, after the setup reps: the state the loop starts from."""

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def collect(self, df) -> list:
        return [r.asDict() for r in df.collect()]

    #: classes whose items make up the throughput
    throughput_classes = ""

    def throughput(self, ops: list[dict]) -> float:
        """Items completed per second of timed operation time (the loop's
        untimed producer steps and input generation do not count)."""
        ok = [o for o in ops if o["ok"] and o["class"] in self.throughput_classes]
        busy = sum(o["s"] for o in ok)
        return sum(o["items"] for o in ok) / busy if busy else float("nan")


def new_engine(spark, root: str, api=None, retain_s: float = 0.0):
    from stripe_sync_engine_spark.storage import INDEXED_STATS_COLUMNS, TableStore
    from stripe_sync_engine_spark.sync import StripeSparkSync

    store = TableStore(
        spark, root, n_buckets=N_BUCKETS, stats_columns=list(INDEXED_STATS_COLUMNS), vacuum_retain_s=retain_s
    )
    return StripeSparkSync(spark, store, api=api)


def send(eng, events: list[gen.Event]) -> int:
    """Sign each event, check it with ``verify_signature``, then process
    the batch; returns the payload bytes sent."""
    from stripe_sync_engine_spark.sources import webhook

    payloads = []
    for ev in events:
        body = ev.payload()
        header = gen.sign(SECRET, ev.created, body)
        if not webhook.verify_signature(SECRET, header, body):
            raise ValueError(f"signature rejected for {ev.event_id}")
        payloads.append(body)
    eng.process_webhook_events(eng.events_df_from_json(payloads))
    return sum(len(p) for p in payloads)


# ---------------------------------------------------------------------------
# webhook_ingest: backfill, signed webhook batches, SQL reads
# ---------------------------------------------------------------------------

# Each read query is written once for Spark SQL over the ``stripe_*``
# views and once for the DuckDB oracle, which holds the reference rows
# under the same table names (``custkey`` stands for ``metadata.custkey``).
ANALYTIC = {
    "revenue_per_customer": """
        SELECT c.id, SUM(ch.amount) AS revenue, COUNT(*) AS n
        FROM stripe_charges ch JOIN stripe_customers c ON ch.customer = c.id
        WHERE ch.status = 'succeeded' GROUP BY c.id""",
    "active_items_per_price": """
        SELECT p.id, SUM(si.quantity) AS quantity, COUNT(*) AS n
        FROM stripe_subscription_items si
        JOIN stripe_subscriptions s ON si.subscription = s.id
        JOIN stripe_prices p ON si.price = p.id
        WHERE s.status = 'active' GROUP BY p.id""",
    "invoice_running_total": """
        SELECT id, customer, SUM(total) OVER (
            PARTITION BY customer ORDER BY created, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total
        FROM stripe_invoices""",
    "business_join": """
        SELECT b.c_mktsegment AS segment, COUNT(DISTINCT s.id) AS customers,
               COUNT(*) AS orders, SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
        FROM stripe_customers s
        JOIN customer b ON {custkey} = b.c_custkey
        JOIN orders o ON o.o_custkey = b.c_custkey
        WHERE NOT s.deleted GROUP BY b.c_mktsegment""",
}
SPARK_CUSTKEY = "CAST(get_json_object(s.metadata, '$.custkey') AS BIGINT)"
LOOKUPS = {
    "customers": ("id", "email", "balance"),
    "charges": ("id", "amount", "status"),
    "invoices": ("id", "total", "status"),
}
REGISTRY_QUERY = "q02_revenue_per_customer"
#: columns compared per synced table, and the ones the DuckDB oracle holds
COLUMNS = {
    "customers": ("email", "balance", "deleted", "metadata", "created"),
    "products": ("name", "active"),
    "prices": ("unit_amount", "product"),
    "subscriptions": ("status", "customer", "created"),
    "subscription_items": ("subscription", "price", "quantity", "deleted"),
    "invoices": ("status", "total", "customer", "created"),
    "charges": ("status", "amount", "customer", "created"),
}


class WebhookIngest(Workload):
    """The synced tables' write path, then their read path, on one store.

    The store is backfilled from a seeded in-memory Stripe account; then
    each cycle queries it and sends bursty batches of signed events.
    Classes: a = small batches (1-10 events of one or two entity types),
    b = 200-event mixed bursts, c = lookups (an id point lookup and a
    ``created >=`` window, each through a ``stripe_*`` view and through
    ``TableStore.read_where``), d = analytic reads (joins over the views,
    a running total, a join with business tables on ``metadata.custkey``,
    registry q02, and ``changes()`` since the backfill)."""

    name = "webhook_ingest"
    setup_reps = 3
    throughput_classes = "ab"
    input_bytes = 0  # event payload bytes sent since start()
    CHANGED = ("customers",)
    #: rounds of the four lookup shapes per cycle (lookups are short, so
    #: their median needs more samples than one round gives)
    LOOKUP_ROUNDS = 2

    def setup(self, rep: int) -> None:
        """Warm-up: one small batch into a fresh scratch store."""
        eng = new_engine(self.spark, self.fresh_dir(f"warm{rep}"))
        stream = gen.EventStream(self.seed + 1000 + rep, prefix=f"w{rep}_")
        send(eng, stream.batch(("customers",)))

    def start(self) -> None:
        """Backfill the account, send one subscription, one invoice and
        one charge event (so every table exists and every timed batch
        merges into existing tables), write the business tables and create
        the views."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from stripe_sync_engine_spark.sources.stripe_api import InMemoryStripeAPI
        from stripe_sync_engine_spark.sync import StripeSparkSync

        self.stream = stream = gen.EventStream(self.seed)
        stream.populate(gen.ACCOUNT)
        self.backfilled = copy.deepcopy(stream.objects)
        api = InMemoryStripeAPI()
        for entity, objs in self.backfilled.items():
            for obj in objs.values():
                api.put(entity, obj)
        backfill = new_engine(self.spark, self.fresh_dir("store"), api=api, retain_s=3600.0)
        backfill.sync_backfill()
        # webhooks go through an engine without an API client on the same
        # store, as a webhook-only deployment runs
        store = backfill.store
        self.eng = StripeSparkSync(self.spark, store)
        self.since = {t: store.commits(t)[-1] for t in self.CHANGED}
        # the backfill stamps rows with the wall clock: events must be newer
        stream.time_shift = int(time.time()) + 60 - gen.EVENT_BASE
        self.batches = [stream.batch(("subscriptions", "invoices", "charges"), 3)]
        send(self.eng, self.batches[0])
        self.input_bytes = 0

        self.biz_dir = self.fresh_dir("business")
        for name, cols in gen.business_tables(self.seed, gen.ACCOUNT["customers"]).items():
            path = os.path.join(self.biz_dir, f"{name}.parquet")
            pq.write_table(pa.table(cols), path)
            self.spark.read.parquet(path).createOrReplaceTempView(name)
        self.eng.create_views()
        self.results: list[tuple[int, str, list]] = []
        # the first view query starts Spark's Python planning worker
        self._sql("SELECT id FROM stripe_customers WHERE id = 'cus_0'")

    # -- reads -------------------------------------------------------------
    def _sql(self, query: str) -> list:
        with self.tracer.span("sources.store_datasource.query"):
            return self.collect(self.spark.sql(query))

    def _read_where(self, table: str, where: list[tuple]) -> list:
        store = self.eng.store
        rows = self.collect(store.read_where(table, where).select(*LOOKUPS[table]))
        n = len(store.buckets_of_values([r["id"] for r in rows], table)) if rows else 0
        self.tracer.count("storage.read.useful_buckets", n)
        return rows

    def reads(self):
        """One of each read, with seeded parameters, against the store as
        the batches sent so far left it."""
        rng = self.rng
        ref = self.reference(len(self.batches))
        live = sorted(i for i, r in ref["customers"].items() if not r["deleted"])

        def op(key, fn):
            snapshot = len(self.batches)

            def run():
                self.results.append((snapshot, key, fn()))
                return 1
            return run

        def window_start(table):
            created = sorted(r["created"] for r in ref[table].values())
            return created[int(len(created) * rng.uniform(0.85, 0.95))]

        for _ in range(self.LOOKUP_ROUNDS):
            cid, t = rng.choice(live), window_start("charges")
            yield "c", "view_point_lookup", op(
                f"view:customers:id={cid}",
                lambda cid=cid: self._sql(
                    f"SELECT {', '.join(LOOKUPS['customers'])} FROM stripe_customers WHERE id = '{cid}'"))
            yield "c", "view_window", op(
                f"view:charges:created>={t}",
                lambda t=t: self._sql(
                    f"SELECT {', '.join(LOOKUPS['charges'])} FROM stripe_charges WHERE created >= {t}"))
            cid, t = rng.choice(live), window_start("invoices")
            yield "c", "read_where_point_lookup", op(
                f"read_where:customers:id={cid}",
                lambda cid=cid: self._read_where("customers", [("id", "=", cid)]))
            yield "c", "read_where_window", op(
                f"read_where:invoices:created>={t}",
                lambda t=t: self._read_where("invoices", [("created", ">=", t)]))
        for name, query in ANALYTIC.items():
            yield "d", name, op(name, lambda q=query.format(custkey=SPARK_CUSTKEY): self._sql(q))

        def registry():
            from stripe_sync_engine_spark.plans.registry import REGISTRY

            with self.tracer.span(f"plans.{REGISTRY_QUERY}"):
                return self.collect(REGISTRY[REGISTRY_QUERY].spark(self.spark, self.biz_dir))

        yield "d", REGISTRY_QUERY, op(REGISTRY_QUERY, registry)
        for table in self.CHANGED:
            yield "d", f"changes_{table}", op(
                f"changes:{table}",
                lambda table=table: self.collect(
                    self.eng.changes(table, self.since[table]).select("id", "_change_type")))

    # -- writes ------------------------------------------------------------
    def cycle(self):
        for kind, n in gen.cycle_kinds():
            events = self.stream.batch(kind, n)

            def op(events=events):
                self.input_bytes += send(self.eng, events)
                self.batches.append(events)
                return len(events)

            if isinstance(kind, tuple):
                yield "a", "small_" + "+".join(kind), op
            else:
                yield "b", f"burst_{len(events)}", op
        yield from self.reads()

    # -- oracle ------------------------------------------------------------
    corrupted = False

    def corrupt(self) -> None:
        self.corrupted = True

    def reference(self, n_batches: int) -> dict:
        return gen.reference_tables([e for b in self.batches[:n_batches] for e in b], self.backfilled)

    def delete_overtakes(self) -> set[str]:
        """Deleted customers whose delete's batch also holds an older
        update of them. The engine applies a batch's customer.deleted
        before its customer.updated events, so such an update never
        reaches the row (see CHANGES.md); the oracle checks only these
        customers' flag and time."""
        out = set()
        for batch in self.batches:
            dels = {e.obj["id"]: e.created for e in batch if e.type == "customer.deleted"}
            out.update(
                e.obj["id"] for e in batch
                if e.type == "customer.updated" and e.created < dels.get(e.obj["id"], 0)
            )
        return out

    def check(self) -> None:
        ref = self.reference(len(self.batches))
        if self.corrupted:
            # drop one row of the reference: the store must then differ
            ref["charges"].pop(min(ref["charges"]))
        self.check_tables(ref)
        duck = {}
        for snapshot, key, rows in self.results:
            if snapshot not in duck:
                duck[snapshot] = self.oracle(self.reference(snapshot))
            got = norm(tuple(r.values()) for r in rows)
            want = norm(self.expected(duck[snapshot], snapshot, key))
            if got != want:
                self.mismatch(f"{key}: {len(got)} rows {got[:2]}..., DuckDB {len(want)} rows {want[:2]}...")

    def check_tables(self, ref: dict) -> None:
        """Every synced table equals the reference model."""
        store = self.eng.store
        overtaken = self.delete_overtakes()
        for table, cols in COLUMNS.items():
            want = ref.get(table, {})
            got = {
                r["id"]: r
                for r in self.collect(
                    store.read(table).selectExpr("id", "CAST(last_synced_at AS LONG) AS _ts", *cols)
                )
            }
            if set(got) != set(want):
                self.mismatch(f"{table}: ids differ (missing {len(set(want) - set(got))}, extra {len(set(got) - set(want))})")
            for oid in sorted(set(got) & set(want)):
                g, w = got[oid], want[oid]
                checked = ("deleted",) if table == "customers" and oid in overtaken else cols
                # a row the backfill wrote last carries the backfill's wall-clock time
                if w["_ts"]:
                    checked = ("_ts",) + checked
                for c in checked:
                    wv, gv = w.get(c), g[c]
                    if c == "metadata":
                        gv = json.loads(gv) if gv else None
                    if c == "deleted" and wv is None:
                        wv = False
                    if gv != wv:
                        self.mismatch(f"{table}[{oid}].{c}: stored {gv!r}, expected {wv!r}")
                        break

    def oracle(self, ref: dict):
        """DuckDB over the reference rows and the business tables."""
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        for table, cols in COLUMNS.items():
            names = ["id"] + [c for c in cols if c != "metadata"]
            df = pd.DataFrame([[r.get(c) for c in names] for r in ref[table].values()], columns=names)
            if table == "customers":
                df["custkey"] = [int(r["metadata"]["custkey"]) for r in ref[table].values()]
            con.register(f"stripe_{table}", df)
        for name in ("customer", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(self.biz_dir, name)}.parquet')")
        return con

    def expected(self, con, snapshot: int, key: str) -> list[tuple]:
        from stripe_sync_engine_spark.plans.registry import REGISTRY

        kind, _, rest = key.partition(":")
        if kind in ("view", "read_where"):
            table, _, pred = rest.partition(":")
            col, op, val = ("id", "=", f"'{pred[3:]}'") if pred.startswith("id=") else ("created", ">=", pred[9:])
            query = f"SELECT {', '.join(LOOKUPS[table])} FROM stripe_{table} WHERE {col} {op} {val}"
        elif kind == "changes":
            before = self.backfilled.get(rest, {})
            touched = {e.obj["id"] for b in self.batches[:snapshot] for e in b if e.obj["object"] + "s" == rest}
            return [(i, "update" if i in before else "insert") for i in touched]
        elif key == REGISTRY_QUERY:
            query = REGISTRY[REGISTRY_QUERY].oracle
        else:
            query = ANALYTIC[key].format(custkey="s.custkey")
        return con.execute(query).fetchall()


def norm(rows) -> list[tuple]:
    """Rows as a sorted list of tuples, floats rounded to 1e-6."""
    return sorted(tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows)


# ---------------------------------------------------------------------------
# corpus_cdc
# ---------------------------------------------------------------------------


class CorpusCDC(Workload):
    """A mutating document corpus with four derived indexes maintained
    from its change feed, and incoming batches gated against it.
    Classes: a = an indexed BM25 top-k query, b = a ~600-doc batch
    through the exact then the near gate, c = one
    ``maintain_corpus_indexes`` fan-out of a mutation window, d = an
    IVF-PQ top-k query."""

    name = "corpus_cdc"
    setup_reps = 1
    throughput_classes = "bc"
    SCHEMA = "doc_id long, text string, embedding array<double>"

    def setup(self, rep: int) -> None:
        from pyspark.sql import functions as F

        from stripe_sync_engine_spark.operators.incremental_dedup import (
            IncrementalDeduper,
            IncrementalNearDeduper,
        )
        from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
        from stripe_sync_engine_spark.operators.pq_index import PersistedIVFPQ, train_ivf_pq
        from stripe_sync_engine_spark.storage import TableStore
        from stripe_sync_engine_spark.sync import StripeSparkSync

        self.corpus = gen.Corpus(self.seed)
        store = self.store = TableStore(
            self.spark, self.fresh_dir(f"store{rep}"), n_buckets=N_BUCKETS, vacuum_retain_s=3600.0
        )
        store.write("corpus", self.spark.createDataFrame(self.corpus.rows(), self.SCHEMA), key="doc_id")
        ivf = train_ivf_pq(
            store.read("corpus").select(F.col("doc_id").alias("vec_id"), "embedding"), n_cells=16, m=8, k=16
        )
        self.exact = IncrementalDeduper(store, table="_c_fps")
        self.near = IncrementalNearDeduper(store, table="_c_bands")
        self.postings = PersistedPostingsIndex(
            store, table="_c_post", stats_table="_c_post_stats", forward_table="_c_post_docs"
        )
        self.ann = PersistedIVFPQ(store, ivf, table="_c_codes", id_col="doc_id", forward_table="_c_fwd")
        self.targets = dict(gates=[self.exact, self.near], postings=self.postings, ann=self.ann)
        self.eng = StripeSparkSync(self.spark, store)
        self.eng.maintain_corpus_indexes("bench", "corpus", **self.targets)

    def cycle(self, n_mutations: int = 50, n_incoming: int = 150, n_queries: int = 3):
        """Gate batch; untimed producer step (admit the batch's exact-gate
        survivors, apply one mutation window, write the corpus table); the
        fan-out of that window; ``n_queries`` BM25 and IVF-PQ queries. Every
        cycle ends with the indexes in step with the corpus table."""
        batch = self.corpus.incoming(n_incoming)
        seen = {gen.content_hash(t) for t, _ in self.corpus.docs.values()}
        expect = gen.exact_survivors(batch, seen)
        admitted: list[tuple[int, str]] = []

        def gate():
            bdf = self.spark.createDataFrame(batch, "doc_id long, text string")
            s1 = self.exact.filter_new(bdf)
            exact_rows = self.collect(s1)
            n_near = self.near.filter_new(s1).count()
            got = {r["doc_id"] for r in exact_rows}
            if got != expect:
                self.mismatch(f"exact gate: {len(got)} survivors, Python hash set says {len(expect)}")
            self.tracer.count("operators.incremental_dedup.survivors", n_near)
            self.tracer.count("operators.incremental_dedup.gated", len(batch))
            admitted.extend((r["doc_id"], r["text"]) for r in exact_rows)
            return len(batch)

        yield "b", "gate_batch", gate
        self.corpus.admit(admitted)
        self.corpus.mutate(n_mutations)
        self.store.write("corpus", self.spark.createDataFrame(self.corpus.rows(), self.SCHEMA), key="doc_id")

        def window():
            rep = self.eng.maintain_corpus_indexes("bench", "corpus", **self.targets)
            if not rep.get("applied"):
                raise RuntimeError(f"fan-out applied nothing: {rep}")
            return int(rep.get("rows") or 0)

        yield "c", "cdc_window", window
        # untimed warm-up: the first query of each index after a fan-out
        # runs slower than the rest, and by a margin that varies run to run
        qid = min(self.corpus.docs)
        self.postings.topk(gen.WORDS[:3], k=10).collect()
        self.ann.topk([(qid, self.corpus.docs[qid][1])], k=10, nprobe=4).collect()
        for _ in range(n_queries):
            terms = gen.query_terms(self.rng)
            qid = self.rng.choice(sorted(self.corpus.docs))
            vec = self.corpus.docs[qid][1]

            def bm25(terms=terms):
                with self.tracer.span("operators.postings.topk"):
                    return len(self.postings.topk(terms, k=10).collect())

            def ivfpq(qid=qid, vec=vec):
                with self.tracer.span("operators.pq_index.topk"):
                    return len(self.ann.topk([(qid, vec)], k=10, nprobe=4).collect())

            yield "a", "bm25_topk", bm25
            yield "d", "ivfpq_topk", ivfpq

    corrupted = False

    def corrupt(self) -> None:
        self.corrupted = True

    def check(self) -> None:
        from stripe_sync_engine_spark.plans.textops import bm25_topk

        stored = {r["doc_id"] for r in self.store.read("corpus").select("doc_id").collect()}
        if stored != set(self.corpus.docs):
            self.mismatch(f"corpus table holds {len(stored)} docs, producer wrote {len(self.corpus.docs)}")
        audit = self.eng.audit_corpus_indexes("corpus", **self.targets)
        if not audit.get("ok"):
            self.mismatch(f"audit_corpus_indexes not ok: {json.dumps(audit, default=str)[:400]}")
        docs = self.store.read("corpus").select("doc_id", "text")
        terms = gen.query_terms(self.rng)
        got = self.collect(self.postings.topk(terms, k=10))
        if self.corrupted and got:
            docs = docs.where(docs.doc_id != got[0]["doc_id"])
        want = self.collect(bm25_topk(docs, terms, k=10))
        # scores agree to ~1 ulp (JVM vs libm ln), which can swap tied docs
        g = sorted((-round(r["score"], 6), r["doc_id"]) for r in got)
        w = sorted((-round(r["score"], 6), r["doc_id"]) for r in want)
        if g != w:
            self.mismatch(f"indexed BM25 {terms}: {g[:3]}... differs from the scan {w[:3]}...")


WORKLOADS = {w.name: w for w in (WebhookIngest, CorpusCDC)}
#: operation classes; each workload's docstring says what they are
CLASSES = "abcd"


def mean(values: list[float]) -> float:
    """Mean; NaN on no samples."""
    return sum(values) / len(values) if values else float("nan")
