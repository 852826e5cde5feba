"""Physical-plan regression tests: the scale properties the docs claim
(docs/PLANS.md) asserted mechanically, so a refactor that silently adds
an exchange, drops a pushdown, or falls back to a sort-merge join fails
CI instead of only showing up at 100 TB.

Each test captures ``df.explain(...)`` output and asserts on plan-node
substrings. They assert RELATIVE exchange counts where a cached
lineage legitimately contains its one-time repartition exchange.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest
from pyspark.sql import functions as F

from linkgraph import ops
from linkgraph.pipeline import dedup
from linkgraph.session import load_table

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "lineitem.parquet")),
    reason="driver testdata not present",
)


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def n_exchanges(plan: str) -> int:
    """Shuffle-exchange tree nodes only: formatted mode prints each node
    twice ("+- Exchange (4)" in the tree, "(4) Exchange" in the detail),
    and Broadcast/ReusedExchange are not data shuffles."""
    return len(re.findall(r"(?<![A-Za-z])Exchange \(\d+\)", plan))


def test_scan_prunes_columns_and_pushes_filters(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    q = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = plan_str(q)
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan
    # ReadSchema must carry only the two referenced columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "l_orderkey" in read_schema[0] and "l_quantity" in read_schema[0]
    assert "l_extendedprice" not in read_schema[0]
    assert "l_returnflag" not in read_schema[0]


def test_global_topk_is_take_ordered_not_full_sort(spark):
    orders = load_table(spark, SF_DIR, "orders")
    q = orders.orderBy(F.col("o_totalprice").desc()).limit(10)
    plan = plan_str(q)
    assert "TakeOrderedAndProject" in plan
    # no Sort operator node anywhere — TakeOrderedAndProject keeps k
    # rows per partition and merges on the driver (formatted mode
    # prints operator nodes as "Sort (<n>)")
    assert not re.search(r"(?<![A-Za-z])Sort \(\d+\)", plan), plan


def test_grouped_topk_is_single_exchange(spark):
    orders = load_table(spark, SF_DIR, "orders")
    q = ops.top_k(orders, ["o_custkey"], [F.col("o_totalprice").desc()], 3)
    plan = plan_str(q)
    assert "Window" in plan
    assert n_exchanges(plan) == 1, plan
    # Spark 4 bonus worth pinning: a PARTIAL WindowGroupLimit runs
    # map-side, so each input partition ships at most k rows per group
    # into the one exchange — the property that makes grouped top-k
    # safe under 100 TB skew
    assert "row_number(), 3, Partial" in plan, plan


def test_small_dim_join_broadcasts(spark):
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    q = orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
    plan = plan_str(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _random_walk_superstep_plan(monkeypatch, edges, *, exchange: bool) -> str:
    """``explain(simple)`` of the superstep frame pagerank's kernel
    builds, captured inside the real ``run_pregel`` loop while the
    kernel's caches are live. The second superstep is the steady state:
    the first is planned before the edge cache is filled, when Spark
    does not yet know its partitioning. ``exchange`` patches
    ``pregel.BROADCAST_STATE_MAX_VERTICES`` to 0, so the kernel picks
    its exchange plan."""
    from linkgraph import pregel
    from linkgraph.algos import pagerank

    run_pregel = pregel.run_pregel
    plans = {}

    def capture(e, init_state, superstep_fn, delta_fn, **run_kw):
        def step(edges_df, state, i):
            new = superstep_fn(edges_df, state, i)
            plans[i] = plan_str(new, mode="simple")
            return new

        return run_pregel(e, init_state, step, delta_fn, **run_kw)

    monkeypatch.setattr(pregel, "run_pregel", capture)
    if exchange:
        monkeypatch.setattr(pregel, "BROADCAST_STATE_MAX_VERTICES", 0)
    pagerank(edges, max_iter=2, tol=None, num_partitions=4)
    return plans[1]


# the message aggregation's own shuffle (the cache's one-time repartition
# is a REPARTITION_BY_NUM exchange)
_MSG_EXCHANGE = re.compile(r"Exchange hashpartitioning\(dst#\d+L?, \d+\), ENSURE_REQUIREMENTS")


def test_pagerank_broadcast_superstep_message_agg_is_exchange_free(
    spark, tiny_edges, monkeypatch
):
    """The broadcast-plan superstep (docs/PLANS.md): edges cached
    hash(dst, P); state broadcast; the message aggregation on dst adds NO
    exchange of the E-row stream — groupBy(dst) inherits the cache
    partitioning."""
    plan = _random_walk_superstep_plan(monkeypatch, tiny_edges, exchange=False)
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum(contrib" in plan, plan
    assert not _MSG_EXCHANGE.search(plan), plan


def test_minhash_signature_has_map_side_combine(spark):
    """MinHash hashes every document row in one Arrow-batch map — no
    per-shingle Generate (explode) — BELOW the plan's only exchange, and
    the duplicate-id merge partially aggregates before it: the exchange
    carries one row per document row, never shingles."""
    docs = load_table(spark, SF_DIR, "documents")
    sig = dedup.minhash_signature(docs, num_hashes=8)
    plan = plan_str(sig)
    assert "Generate" not in plan, plan
    assert n_exchanges(plan) == 1, plan
    # plan prints top-down: the Exchange appears ABOVE (before) the map
    assert plan.index("Exchange") < plan.index("MapInArrow"), plan
    simple = plan_str(sig, mode="simple")
    assert simple.index("Exchange") < simple.index("partial_collect_list"), simple


def test_pagerank_exchange_plan_partially_aggregates_before_shuffle(
    spark, tiny_edges, monkeypatch
):
    """The exchange-plan superstep (pagerank above
    BROADCAST_STATE_MAX_VERTICES, the 10^12-doc regime): messages groupBy(dst) over a src-partitioned edge
    cache must show a PARTIAL HashAggregate below its exchange — the
    E-row stream collapses to ~|V| partial sums per partition before
    anything crosses the wire."""
    plan = _random_walk_superstep_plan(monkeypatch, tiny_edges, exchange=True)
    exchange = _MSG_EXCHANGE.search(plan)
    assert exchange, plan
    # top-down print: the final agg's Exchange is ABOVE the partial agg
    assert exchange.start() < plan.index("partial_sum(contrib"), plan


def test_bucketed_join_no_exchange(spark, tmp_path):
    """TableStore.write_bucketed: two tables hash-bucketed the same way
    join on the bucket key with ZERO shuffle exchanges — each task reads
    matching buckets from both sides (co-located join, the durable form
    of the in-memory repartition the iterative kernels use). sortBy on
    the bucket key additionally removes the per-task Sort."""
    from linkgraph.tables import TableStore

    store = TableStore(spark, str(tmp_path / "bstore"))
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_partkey"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    store.write_bucketed("b_lineitem", li, ("l_orderkey",), 8,
                         sort_cols=("l_orderkey",))
    store.write_bucketed("b_orders", orders, ("o_orderkey",), 8,
                         sort_cols=("o_orderkey",))
    a = store.read_bucketed("b_lineitem")
    b = store.read_bucketed("b_orders")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, a["l_orderkey"] == b["o_orderkey"]).groupBy(
            "l_orderkey"
        ).agg(F.sum(F.col("l_quantity") * F.col("o_totalprice")).alias("s"))
        plan = plan_str(j)
        assert "SortMergeJoin" in plan, plan
        assert n_exchanges(plan) == 0, plan
        assert "SelectedBucketsCount" in plan, plan
        # correctness: same result as the unbucketed join
        expect = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("l_orderkey")
            .agg(F.sum(F.col("l_quantity") * F.col("o_totalprice")).alias("s"))
        )
        got = {(r["l_orderkey"], round(r["s"], 2)) for r in j.collect()}
        exp = {(r["l_orderkey"], round(r["s"], 2)) for r in expect.collect()}
        assert got == exp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")
