"""Registry-wide plan-shape gate (r13): every driver query's EXECUTED
plan must stay on the JVM fast path. Individual rows have had targeted
plan tests for rounds (the single-exchange merge, the broadcast-stay of
q32); this sweep makes the two non-negotiables hold for ALL 50 rows at
once, so a future edit cannot quietly introduce the classic scale
killers:

* ``BatchEvalPython`` — a row-at-a-time Python UDF in the hot path
  (Arrow-batched ``mapInPandas``/``ArrowEvalPython`` stages are the
  sanctioned Python seam and are NOT flagged);
* ``CartesianProduct`` — an unbroadcast all-pairs join;
* an ``ExistingRDD`` scan of pickled Python rows (``createDataFrame(list)``;
  its RDD lineage runs through a ``PythonRDD``): every job reading it runs
  Python-worker tasks to unpickle the rows. Driver rows enter as Arrow
  local relations (``session.local_frame`` → ``LocalTableScan``). A
  ``localCheckpoint`` also scans as ``ExistingRDD`` but holds JVM rows, so
  it is not flagged.

``BroadcastNestedLoopJoin`` is allowed ONLY on the enumerated rows
whose small side is a broadcast scalar/queries literal (the brute-force
similarity baseline's declared shape, BM25's broadcast df/avgdl
aggregates, the rollup's trailing-window bound) — a BNLJ appearing on
any OTHER row fails loudly and must be justified here, because with two
big sides it degenerates to the cartesian case.

Planning only: ``executedPlan`` builds the physical plan without
running the query, so the sweep costs seconds per row, not scans.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from stripe_sync_engine_spark.plans import REGISTRY

# same override every other test honors (conftest.SF_DIR / the sf_dir
# fixture) — module-level because BNLJ_BY_DESIGN tests also need it
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: rows whose BroadcastNestedLoopJoin is a tiny-broadcast-side design
#: choice, re-adjudicated whenever this set changes
BNLJ_BY_DESIGN = {
    "q08_daily_rollup",       # trailing-window bound: 1-row broadcast
    "sim_topk_brute",         # declared broadcast baseline (query set)
    "sim_ivf_topk",           # broadcast probe-cell/query literals
    "txt_bm25_topk",          # broadcast df/avgdl scalar aggregates
}


def pickled_row_scans(df) -> int:
    """``ExistingRDD`` leaves of ``df``'s plan whose RDD lineage runs
    through a ``PythonRDD`` — rows pickled on the driver. Reads the RDD
    lineage only; nothing executes."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    n = 0
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            n += "PythonRDD" in leaf.rdd().toDebugString()
    return n


def test_registry_plans_stay_on_the_jvm_fast_path(spark):
    offenders: dict[str, list[str]] = {}
    for name, q in sorted(REGISTRY.items()):
        df = q.spark(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        flags = []
        if "BatchEvalPython" in plan:
            flags.append("row-at-a-time Python UDF")
        if "CartesianProduct" in plan:
            flags.append("cartesian product")
        if "ExistingRDD" in plan and pickled_row_scans(df):
            flags.append("pickled Python rows")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_BY_DESIGN:
            flags.append("unadjudicated BroadcastNestedLoopJoin")
        if flags:
            offenders[name] = flags
    assert not offenders, (
        f"slow-path plan nodes crept into driver rows: {offenders} — "
        "rewrite with built-in expressions / Arrow-batched UDFs / a "
        "broadcast equi-join / session.local_frame, or (BNLJ with a provably tiny broadcast "
        "side only) add the row to BNLJ_BY_DESIGN with a justification"
    )


def test_bnlj_by_design_rows_still_use_it(spark):
    """The allowlist cannot rot into dead entries: every enumerated row
    still plans its BNLJ (when one disappears — e.g. rewritten as an
    equi-join — remove it from the list so the gate re-tightens)."""
    for name in sorted(BNLJ_BY_DESIGN):
        plan = (
            REGISTRY[name]
            .spark(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan, (
            f"{name} no longer plans a BroadcastNestedLoopJoin — remove "
            "it from BNLJ_BY_DESIGN so the gate re-tightens"
        )


# ---------------------------------------------------------------------------
# Driver rows on the sync and query paths: every frame the engine builds
# from rows it holds on the driver (webhook bodies, API pages, delete keys,
# query terms and vectors) must plan as a LocalTableScan. A pickled Python
# RDD would put Python-worker tasks into every job that reads the frame —
# for a webhook batch, into each entity's write job.


@pytest.fixture()
def driver_frames(monkeypatch):
    """Every DataFrame built through ``createDataFrame`` while active."""
    made = []
    create = SparkSession.createDataFrame

    def recording(self, *args, **kwargs):
        df = create(self, *args, **kwargs)
        made.append(df)
        return df

    monkeypatch.setattr(SparkSession, "createDataFrame", recording)
    return made


def _assert_local(frames, what):
    assert frames, f"{what} built no frame from driver rows"
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (what, plan)
        assert pickled_row_scans(df) == 0, (what, plan)


def test_sync_driver_rows_plan_as_local_relations(spark, tmp_path, driver_frames):
    from stripe_sync_engine_spark.sources.stripe_api import InMemoryStripeAPI
    from stripe_sync_engine_spark.storage import TableStore
    from stripe_sync_engine_spark.sync import StripeSparkSync
    from tests import fixtures as fx

    api = InMemoryStripeAPI()
    for i in range(3):
        api.put("products", fx.product(id=f"prod_L{i}"))
    eng = StripeSparkSync(spark, TableStore(spark, str(tmp_path / "wh")), api=api)

    driver_frames.clear()
    eng.events_df_from_json([fx.event("product.created", fx.product(id="prod_W"))])
    _assert_local(driver_frames, "events_df_from_json")

    driver_frames.clear()
    assert eng.sync_backfill("products")["products"] == 3
    _assert_local(driver_frames, "sync_backfill flush")

    driver_frames.clear()
    eng._delete_ids("products", ["prod_L0"])
    _assert_local(driver_frames, "_delete_ids")
    assert eng.store.read("products").where("id = 'prod_L0'").count() == 0


def test_topk_query_rows_plan_as_local_relations(spark, tmp_path, driver_frames):
    from stripe_sync_engine_spark.operators.postings import PersistedPostingsIndex
    from stripe_sync_engine_spark.operators.pq_index import rerank_shortlist
    from stripe_sync_engine_spark.session import local_frame
    from stripe_sync_engine_spark.storage import TableStore

    docs = local_frame(
        spark, [(1, "spark query join"), (2, "spark join")], "doc_id long, text string"
    )
    idx = PersistedPostingsIndex(TableStore(spark, str(tmp_path / "wh")))
    idx.register(docs, "b1")
    driver_frames.clear()
    assert idx.topk(["spark", "join"], k=2).count() == 2
    _assert_local(driver_frames, "postings topk probe/stats")

    vecs = local_frame(
        spark, [(1, [0.0, 1.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    shortlist = local_frame(spark, [(7, 1), (7, 2)], "query_id long, vec_id long")
    driver_frames.clear()
    out = rerank_shortlist(shortlist, vecs, [(7, [0.9, 0.1])], k=1).collect()
    _assert_local(driver_frames, "rerank_shortlist queries")
    assert [r["vec_id"] for r in out] == [2]
