"""Per-layer metrics of a traced run, from its spans, counters and the
Spark jobs attributed to them (tracing.py). Every workload reports every
metric; a layer a workload does not use reports 0."""

from __future__ import annotations

from collections import defaultdict

from workloads import CLASSES, mean

WRITE_FAMILY = "storage.write."


def per_layer(wl, tracer, jobs: list[dict], ops: list[dict], wrapper_s: float, rss_mb: float) -> dict:
    spans = tracer.spans
    timed = {o["id"] for o in ops}
    n_ops = max(1, len(ops))
    by_id = {s["id"]: s for s in spans}

    # inclusive job aggregates per span (own jobs + descendants')
    own: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for j in jobs:
        agg = own[j["owner"]]
        agg["jobs"] += 1
        for k in ("tasks", "run_ms", "shuffle_w", "out_b"):
            agg[k] += j[k]
    incl: dict[int, dict] = {s["id"]: defaultdict(float, own.get(s["id"], {})) for s in spans}
    for s in sorted(spans, key=lambda s: -s["depth"]):
        p = s["parent"]
        if p in incl:
            for k, v in incl[s["id"]].items():
                incl[p][k] += v

    def calls(name: str, prefix: bool = False) -> list[dict]:
        """Spans of ``name`` inside timed operations, else all of them."""
        match = [s for s in spans if (s["name"].startswith(name) if prefix else s["name"] == name)]
        in_ops = [s for s in match if s["op"] in timed]
        return in_ops or match

    def top_level(ss: list[dict], prefix: str) -> list[dict]:
        def nested(s):
            p = by_id.get(s["parent"])
            while p is not None:
                if p["name"].startswith(prefix):
                    return True
                p = by_id.get(p["parent"])
            return False

        return [s for s in ss if not nested(s)]

    def mean_s(ss):
        return sum(s["end"] - s["start"] for s in ss) / len(ss) if ss else 0.0

    def total(ss, k):
        return sum(incl[s["id"]][k] for s in ss)

    def per_call(ss, k):
        return total(ss, k) / len(ss) if ss else 0.0

    def counter(key, kinds=None):
        return sum(
            v for (op, k), v in tracer.counters.items()
            if k == key and (kinds is None or op in kinds)
        )

    out: dict[str, tuple[float, str]] = {}
    for cls in CLASSES:
        cops = {o["id"] for o in ops if o["class"] == cls}
        cj = [j for j in jobs if j["op"] in cops]
        n = max(1, len(cops))
        out[f"spark.class_{cls}.jobs_per_op"] = (len(cj) / n, "count")
        out[f"spark.class_{cls}.tasks_per_op"] = (sum(j["tasks"] for j in cj) / n, "count")
        out[f"spark.class_{cls}.executor_run_ms_per_op"] = (sum(j["run_ms"] for j in cj) / n, "ms")
        out[f"spark.class_{cls}.shuffle_write_bytes_per_op"] = (sum(j["shuffle_w"] for j in cj) / n, "B")
    out["spark.shared_jobs_per_op"] = (sum(1 for j in jobs if j["shared"] and j["op"] in timed) / n_ops, "count")

    for name in ("process_webhook_events", "maintain_corpus_indexes"):
        ss = calls(f"sync.{name}")
        out[f"sync.{name}.s"] = (mean_s(ss), "s")
        out[f"sync.{name}.jobs"] = (per_call(ss, "jobs"), "count")
    writes = top_level(calls(WRITE_FAMILY, prefix=True), WRITE_FAMILY)
    commits = calls("commitio.commit")
    out["storage.write.jobs_per_commit"] = (total(writes, "jobs") / len(commits) if commits else 0.0, "count")
    out["storage.write.s"] = (sum(s["end"] - s["start"] for s in writes) / len(commits) if commits else 0.0, "s")
    in_bytes = getattr(wl, "input_bytes", 0)
    timed_writes = [s for s in writes if s["op"] in timed]
    out["storage.bytes_written_per_input_byte"] = (
        total(timed_writes, "out_b") / in_bytes if in_bytes else 0.0, "ratio")

    timed_commits = [s for s in commits if s["op"] in timed]
    out["commitio.commits"] = (len(timed_commits) / n_ops, "count")
    out["commitio.commit_s"] = (mean_s(commits), "s")
    out["commitio.occ_retries"] = (counter("commitio.occ_retries", timed), "count")
    out["operators.merge.merge_upsert_clustered.s"] = (mean_s(calls("operators.merge.merge_upsert_clustered")), "s")

    for gate in ("exact", "near"):
        ss = calls(f"operators.incremental_dedup.{gate}.filter_new")
        out[f"operators.incremental_dedup.{gate}.filter_new.jobs"] = (per_call(ss, "jobs"), "count")
        out[f"operators.incremental_dedup.{gate}.filter_new.s"] = (mean_s(ss), "s")
    gated = counter("operators.incremental_dedup.gated", timed)
    out["operators.incremental_dedup.survivor_ratio"] = (
        counter("operators.incremental_dedup.survivors", timed) / gated if gated else 0.0, "ratio")
    for mod in ("postings", "pq_index"):
        ss = calls(f"operators.{mod}.apply_changes")
        out[f"operators.{mod}.apply_changes.jobs"] = (per_call(ss, "jobs"), "count")
        out[f"operators.{mod}.apply_changes.s"] = (mean_s(ss), "s")
        out[f"operators.{mod}.topk.s"] = (mean_s(calls(f"operators.{mod}.topk")), "s")

    ss = calls("sync.sync_backfill")
    n_pages = counter("sources.stripe_api.pages")
    out["sync.sync_backfill.s"] = (mean_s(ss), "s")
    out["sync.sync_backfill.jobs_per_page"] = (total(ss, "jobs") / n_pages if n_pages else 0.0, "count")
    out["sources.stripe_api.pages"] = (n_pages, "count")
    out["sync.changes.s"] = (mean_s(calls("sync.changes")), "s")
    scanned = counter("storage.read.buckets_scanned", timed)
    prunes = counter("storage.read.prunes", timed)
    out["storage.read.buckets_scanned"] = (scanned / prunes if prunes else 0.0, "count")
    out["storage.read.useful_bucket_ratio"] = (
        counter("storage.read.useful_buckets", timed) / scanned if scanned else 0.0, "ratio")
    ss = calls("sources.store_datasource.query")
    out["sources.store_datasource.s"] = (mean_s(ss), "s")
    out["sources.store_datasource.tasks_per_query"] = (per_call(ss, "tasks"), "count")
    ss = calls("plans.q02_revenue_per_customer")
    out["plans.q02_revenue_per_customer.s"] = (mean_s(ss), "s")
    out["plans.q02_revenue_per_customer.jobs"] = (per_call(ss, "jobs"), "count")

    ok = [o for o in ops if o["ok"]]
    for cls in CLASSES:
        out[f"trace.class_{cls}_mean_s"] = (mean([o["s"] for o in ok if o["class"] == cls]), "s")
    out["trace.wrapper_s_per_op"] = (wrapper_s / n_ops, "s")
    out["peak_rss_mb"] = (rss_mb, "MB")
    return out
