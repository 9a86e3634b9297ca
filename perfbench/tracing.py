"""Spans around the calls into each engine layer, and Spark job metrics
attributed to them.

The benchmark never edits the engine: ``Tracer.install`` wraps the
layers' public functions and methods from outside (module functions that
another module imported by name are wrapped at the importing module too).
Spans are kept in memory and written out when the run ends.

Job, stage and task counts, executor run time and shuffle/output bytes
come from Spark's uncompressed event log, enabled for the traced run only
through launch-time conf. Each wrapper sets the Spark local property
``perfbench.span`` on its thread, so a job is attributed to the innermost
span open on the thread that submitted it. Jobs submitted from engine
pool threads that carry no span are attributed by time: to the innermost
span of the current operation open at submission; when several sibling
spans are open at once the job is marked shared.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"


class Tracer:
    """Records spans. Disabled tracers only track operation boundaries."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.wrapper_s = 0.0
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self.op_id: str = "setup"
        self._op_span = 0
        self._main_stack: list = self._stack()
        self._patched: list[tuple] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _set_prop(self, value: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, value)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        with self._lock:
            self._next += 1
            sid = self._next
        st = self._stack()
        # a span opened on an engine pool thread hangs under the span the
        # client thread is blocked in
        top = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        rec = {"id": sid, "name": name, "parent": top["id"] if top else self._op_span,
               "op": self.op_id, "thread": threading.get_ident(),
               "depth": top["depth"] + 1 if top else 1}
        st.append(rec)
        self._set_prop(str(sid))
        rec["start"] = time.time()
        self.wrapper_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            st.pop()
            if st:
                self._set_prop(str(st[-1]["id"]))
            else:
                self._set_prop(str(self._op_span) if st is self._main_stack else None)
            with self._lock:
                self.spans.append(rec)
            self.wrapper_s += time.perf_counter() - t_out

    @contextlib.contextmanager
    def operation(self, cls: str, kind: str):
        """One timed client operation; every span inside shares its id."""
        self._main_stack = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        op = {"id": f"op{len(self.ops)}", "class": cls, "kind": kind, "span": sid}
        self.op_id, self._op_span = op["id"], sid
        if self.enabled:
            self._set_prop(str(sid))
        op["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield op
        finally:
            op["s"] = time.perf_counter() - t0
            op["end"] = time.time()
            self.ops.append(op)
            self.op_id, self._op_span = "setup", 0
            if self.enabled:
                self._set_prop(None)

    def count(self, key: str, value: float = 1.0) -> None:
        if self.enabled:
            with self._lock:
                self.counters[(self.op_id, key)] += value

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_error=None, on_result=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                try:
                    out = orig(*args, **kwargs)
                except Exception as exc:
                    if on_error is not None:
                        on_error(exc)
                    raise
            return out if on_result is None else on_result(out)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap every layer boundary the per-layer metrics name."""
        if not self.enabled:
            return
        from stripe_sync_engine_spark import storage
        from stripe_sync_engine_spark.operators import incremental_dedup as dd
        from stripe_sync_engine_spark.operators import postings, pq_index
        from stripe_sync_engine_spark.sources import stripe_api, webhook
        from stripe_sync_engine_spark.sync import engine

        tracer = self
        S = engine.StripeSparkSync
        for attr in ("process_webhook_events", "maintain_corpus_indexes", "sync_backfill", "changes"):
            self.wrap(S, attr, f"sync.{attr}")
        self.wrap(webhook, "verify_signature", "sources.webhook.verify_signature")

        def pages(it):
            for page in it:
                tracer.count("sources.stripe_api.pages")
                yield page

        self.wrap(stripe_api.InMemoryStripeAPI, "list", "sources.stripe_api.list", on_result=pages)

        def scanned(buckets):
            tracer.count("storage.read.buckets_scanned", len(buckets or ()))
            tracer.count("storage.read.prunes")
            return buckets

        T = storage.TableStore
        for attr in ("write", "write_buckets", "prepare_buckets", "commit_prepared", "write_rows_buckets"):
            self.wrap(T, attr, f"storage.write.{attr}")
        for attr in ("read", "read_where", "read_buckets", "read_changes"):
            self.wrap(T, attr, f"storage.read.{attr}")
        self.wrap(T, "prune_buckets", "storage.read.prune_buckets", on_result=scanned)
        self.wrap(T, "_commit_manifest", "commitio.commit")

        def occ(exc):
            if "concurrent" in str(exc):
                tracer.count("commitio.occ_retries")

        self.wrap(T, "_commit_partial", "commitio.commit_partial", on_error=occ)
        # merge operators are imported into sync.engine by name
        self.wrap(engine, "merge_upsert_clustered", "operators.merge.merge_upsert_clustered")
        self.wrap(engine, "merge_upsert", "operators.merge.merge_upsert")
        self.wrap(dd.IncrementalDeduper, "filter_new", "operators.incremental_dedup.exact.filter_new")
        self.wrap(dd.IncrementalNearDeduper, "filter_new", "operators.incremental_dedup.near.filter_new")
        self.wrap(dd.IncrementalDeduper, "apply_changes", "operators.incremental_dedup.exact.apply_changes")
        self.wrap(dd.IncrementalNearDeduper, "apply_changes", "operators.incremental_dedup.near.apply_changes")
        self.wrap(postings.PersistedPostingsIndex, "apply_changes", "operators.postings.apply_changes")
        self.wrap(pq_index.PersistedIVFPQ, "apply_changes", "operators.pq_index.apply_changes")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        """Write operations and spans (each with its self time)."""
        own = self_times(self.spans)
        spans = [dict(s, self_s=own[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": spans}, f)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (single) application in ``log_dir``: id, submission
    time, span property, task count, executor run ms, shuffle write and
    output bytes."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no Spark event log in {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(max(files, key=os.path.getmtime)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "job": jid,
                    "submitted": ev["Submission Time"] / 1000.0,
                    "span": int(props[SPAN_PROP]) if props.get(SPAN_PROP) else None,
                    "stages": 0, "tasks": 0, "run_ms": 0, "shuffle_w": 0, "out_b": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                m = ev.get("Task Metrics") or {}
                j = jobs[jid]
                j["tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                j["out_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j["job"])


def attribute(jobs: list[dict], ops: list[dict], spans: list[dict]) -> None:
    """Set ``op`` and ``owner`` (span id, or the op's own span) on each
    job, and ``shared`` when time-based attribution found several
    innermost sibling spans open at once."""
    by_id = {s["id"]: s for s in spans}
    op_of_span = {o["span"]: o for o in ops}
    for j in jobs:
        j["shared"] = False
        sid = j["span"]
        if sid is not None and (sid in by_id or sid in op_of_span):
            j["owner"] = sid
            j["op"] = op_of_span[sid]["id"] if sid in op_of_span else by_id[sid]["op"]
            continue
        t = j["submitted"]
        op = next((o for o in ops if o["start"] - 0.002 <= t <= o["end"] + 0.002), None)
        j["op"] = op["id"] if op else "setup"
        open_ = [s for s in spans if s["op"] == j["op"] and s["start"] <= t <= s["end"]]
        if not open_:
            j["owner"] = op["span"] if op else None
            continue
        deepest = max(s["depth"] for s in open_)
        inner = [s for s in open_ if s["depth"] == deepest]
        j["owner"] = inner[0]["id"]
        j["shared"] = len({s["thread"] for s in inner}) > 1


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids[s["id"]])
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
