"""Physical-plan assertions (SURVEY.md §5.3 layer 5).

Correctness says the rows are right; these say the *plan* is the one
that survives 100 TB: dims broadcast, filters pushed to parquet,
partition pruning effective, codegen covering the hot path.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_str(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_broadcast_join_chosen(spark, sf_dir):
    from hadoop_tools_spark.operators.joins import join_inner

    df = join_inner(spark, sf_dir)
    p = plan_str(df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # only the fixed-size nation dim carries a static hint; customer
    # (scales with SF) is left to AQE / size stats
    hinted = [
        ln for ln in optimized_str(df).splitlines()
        if "strategy=broadcast" in ln
    ]
    assert len(hinted) == 1 and "n_nationkey" in hinted[0], hinted


def test_q1_filter_pushed_and_pruned(spark, sf_dir):
    from hadoop_tools_spark.operators.relational import q1_pricing_summary

    df = q1_pricing_summary(spark, sf_dir)
    p = plan_str(df)
    # predicate reaches the parquet scan
    assert re.search(r"PushedFilters: \[.*l_shipdate.*\]", p), p
    # column pruning: only the 7 needed columns read (FileScan output list)
    m = re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert m, p
    cols = [c.split("#")[0] for c in m.group(1).split(",")]
    assert len(cols) == 7, cols
    assert "l_orderkey" not in cols
    # whole-stage codegen covers scan->partial agg: "*(n)" marks codegen
    # stages in the simple plan string
    df.collect()
    assert "*(" in plan_str(df)


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    from hadoop_tools_spark.operators.relational import q1_pricing_summary

    p = plan_str(q1_pricing_summary(spark, sf_dir))
    # two HashAggregates (partial + final) around the exchange
    assert len(re.findall(r"HashAggregate", p)) >= 2
    assert "Exchange" in p


def test_partition_pruning_on_sink_readback(spark, sf_dir, tmp_path):
    path = str(tmp_path / "pruned")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    p = plan_str(back)
    # partition filter recognized -> no 'O'/'P' directories scanned
    assert re.search(r"PartitionFilters: \[.*o_orderstatus.*\]", p), p


def test_topk_plans_take_ordered(spark, sf_dir):
    from hadoop_tools_spark.operators.windows import topk_global

    p = plan_str(topk_global(spark, sf_dir))
    assert "TakeOrderedAndProject" in p  # k-heap per task, no global sort


def test_asof_join_has_no_inequality_join(spark, sf_dir):
    from hadoop_tools_spark.operators.joins import join_asof

    p = plan_str(join_asof(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p


def test_window_group_limit_pushdown(spark, sf_dir):
    from hadoop_tools_spark.operators.windows import topk_group

    p = plan_str(topk_group(spark, sf_dir))
    assert "WindowGroupLimit" in p  # rn<=k pushed into the window sort


def test_range_bucketed_is_equi_join(spark, sf_dir):
    """The bucketized range join must plan as an equi join (hash or
    sort-merge, broadcast at fixture scale) — never a nested loop,
    which is what the raw inequality predicate would force."""
    from hadoop_tools_spark.operators.joins import join_range_bucketed

    p = plan_str(join_range_bucketed(spark, sf_dir))
    assert "NestedLoop" not in p, p
    assert "CartesianProduct" not in p, p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p), p


def test_salted_join_shuffles_on_composite_key(spark, sf_dir):
    """Salting only helps if the shuffle key really becomes
    (key, salt): both join sides must carry _salt into the join."""
    from hadoop_tools_spark.operators.skew import salted_join
    from hadoop_tools_spark.io import load

    li = load(spark, sf_dir, "lineitem").select("l_suppkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey")
    p = optimized_str(salted_join(li, s, "l_suppkey", "s_suppkey", n_salts=4))
    assert "_salt" in p, p


def test_q6_fully_pushed_scan(spark, sf_dir):
    """Q6 is one pass over a pruned scan: all four predicates sargable
    (shipdate range, discount between, quantity bound) and only the
    needed columns read."""
    from hadoop_tools_spark.operators.relational import q6_revenue_change

    p = plan_str(q6_revenue_change(spark, sf_dir))
    # no closing-bracket anchor: Spark truncates long filter lists in
    # the plan string before the ]
    assert re.search(r"PushedFilters: \[.*l_shipdate", p), p
    m = re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert m, p
    cols = [c.split("#")[0] for c in m.group(1).split(",")]
    assert set(cols) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
    }, cols


#: columns that may legitimately appear in a statically-hinted join:
#: fixed-size dims (nation=25 rows, region=5 — incl. their aliases) and
#: 1-row scalar aggregates. Anything else scaling with SF must reach the
#: join unhinted so AQE decides from runtime sizes.
FIXED_DIM_TOKENS = (
    "n_nationkey", "r_regionkey", "nk1", "nk2", "cnk", "snk", "crk",
)
SCALAR_TOKENS = (
    "avg_bal", "max_revenue", "threshold", "n_total", "thr", "sum_units",
)


def test_no_static_broadcast_of_scaling_tables(spark, sf_dir):
    """Sweep every TPC-H key + the join/stream demos: a static
    broadcast hint on a table that grows with SF (customer, part,
    supplier, lineitem/orders-derived sets) OOMs at the 100 TB target.
    Hints are only allowed on nation/region and 1-row scalars."""
    from hadoop_tools_spark import all_queries  # noqa: F401 — registers keys
    from hadoop_tools_spark.registry import QUERIES

    keys = [k for k in QUERIES if k.startswith("q")] + [
        "join_inner", "stream_enrich", "llm_jaccard_ngram",
    ]
    offenders = {}
    for key in keys:
        opt = optimized_str(QUERIES[key](spark, sf_dir))
        for ln in opt.splitlines():
            if "strategy=broadcast" not in ln:
                continue
            if not any(t in ln for t in FIXED_DIM_TOKENS + SCALAR_TOKENS):
                offenders.setdefault(key, []).append(ln.strip()[:140])
    assert not offenders, offenders


def test_graph_rounds_ride_dst_layout_in_broadcast_regime(spark, sf_dir, monkeypatch):
    """r14: in the broadcast regime (provable |V| bound under the
    gate) the edge cache is dst-partitioned, so every per-round gather
    aggregation — pagerank's contribution sum on ``node`` (= dst),
    LPA's neighbor-mode count on ``nnode`` — rides the cache's
    partitioning with ZERO per-round exchange. Past the gate the
    layout must fall back to src (vectors shuffle to stationary edges
    — the 100 TB shape), and the round exchanges reappear."""
    from hadoop_tools_spark.operators import analytics
    from hadoop_tools_spark.operators.analytics import (
        _graph_layout,
        graph_label_prop,
        graph_pagerank,
    )

    assert _graph_layout(spark, sf_dir)[1] == "dst"
    for df, key in [
        (graph_pagerank(spark, sf_dir), "node#"),
        (graph_label_prop(spark, sf_dir), "nnode#"),
    ]:
        for ln in plan_str(df).splitlines():
            if "Exchange hashpartitioning" in ln:
                assert key not in ln.split("Exchange", 1)[1][:80], ln
    # scale regime: the bound check fails the gate -> src layout
    monkeypatch.setattr(analytics, "_BC_GATE_ROWS", 0)
    assert _graph_layout(spark, sf_dir)[1] == "src"


def test_graph_vectors_never_broadcast_past_the_gate(spark, sf_dir, monkeypatch):
    """graph_* rank/label/community vectors scale with |nodes|, so
    their broadcasts are gated on the MEASURED node count
    (`analytics._bc_if_small`), not a static hint. Forcing the gate
    to 0 simulates the 100 TB cardinality: every graph plan must then
    contain ZERO broadcast hints — the shape a 1000-executor cluster
    would run, where the vectors shuffle to the cached
    src-partitioned edge set instead of OOMing the driver."""
    from hadoop_tools_spark.operators import analytics
    from hadoop_tools_spark import all_queries  # noqa: F401
    from hadoop_tools_spark.registry import QUERIES

    monkeypatch.setattr(analytics, "_BC_GATE_ROWS", 0)
    offenders = {}
    for key in [k for k in QUERIES if k.startswith("graph_")]:
        opt = optimized_str(QUERIES[key](spark, sf_dir))
        for ln in opt.splitlines():
            if "strategy=broadcast" in ln:
                offenders.setdefault(key, []).append(ln.strip()[:140])
    assert not offenders, offenders


def test_q5_dims_broadcast_single_fact_shuffle(spark, sf_dir):
    """Q5's six-way join: fixed dims broadcast, no cartesian; the
    orders↔lineitem fact chain may shuffle. customer/supplier reach
    the join unhinted (asserted by the sweep above); at fixture scale
    size stats still pick BHJ for them, which is fine."""
    from hadoop_tools_spark.operators.relational import q5_local_supplier

    p = plan_str(q5_local_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q4_exists_plans_as_semi_join(spark, sf_dir):
    """Q4's EXISTS is expressed directly as a left-semi join with the
    non-equi residual — output carries no lineitem columns."""
    from hadoop_tools_spark.operators.relational import q4_order_priority

    p = plan_str(q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in p, p


def test_q13_left_join_preserved(spark, sf_dir):
    """Q13's priority filter must stay in the join ON clause — the
    plan keeps LeftOuter (a WHERE placement would degrade to Inner
    and drop order-less customers)."""
    from hadoop_tools_spark.operators.relational_ext import q13_order_distribution

    p = plan_str(q13_order_distribution(spark, sf_dir))
    assert "LeftOuter" in p, p


def test_q18_single_fact_pass(spark, sf_dir):
    """Q18's HAVING-IN qualifier joins back as the aggregated value
    itself: lineitem is scanned exactly once. The qualifier and
    customer sides grow with SF, so they are unhinted (sweep test
    asserts it) — size stats may still broadcast them at fixture
    scale."""
    from hadoop_tools_spark.operators.relational_ext import q18_large_orders

    p = plan_str(q18_large_orders(spark, sf_dir))
    assert p.count("lineitem.parquet") == 1, p
    assert "CartesianProduct" not in p


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """Q22: NOT EXISTS is a broadcast anti join; the avg-balance
    scalar arrives via broadcast, not a shuffle."""
    from hadoop_tools_spark.operators.relational_ext import q22_dormant_customers

    p = plan_str(q22_dormant_customers(spark, sf_dir))
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p


def test_q8_star_no_cartesian(spark, sf_dir):
    """Q8's 8-table star: no cartesian, no nested-loop. Static hints
    only on nation/region (sweep test); at fixture scale size stats
    broadcast the small filtered sides so at most the orders↔lineitem
    join shuffles."""
    from hadoop_tools_spark.operators.relational_ext import q8_market_share

    p = plan_str(q8_market_share(spark, sf_dir))
    assert p.count("SortMergeJoin") <= 1, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q14_date_filter_pushed(spark, sf_dir):
    """Q14's ship-date window reaches the parquet scan."""
    from hadoop_tools_spark.operators.relational_ext import q14_promo_revenue

    p = plan_str(q14_promo_revenue(spark, sf_dir))
    # the plan string truncates long filter lists ("GreaterThanOrEqual(
    # l_shipdate,...), LessThan(l_shipda..."), so match within the line
    # rather than up to the closing bracket
    assert re.search(r"PushedFilters: \[[^\n]*l_shipdate", p), p


def test_q21_order_grain_aggregates(spark, sf_dir):
    """Q21: EXISTS / NOT EXISTS collapse to order-grain aggregates —
    ONE conditional aggregation over a single lineitem⋈orders pass —
    no semi/anti joins, no cached projection, the fact scanned exactly
    once. Every join is unhinted (orders is a fact table, supplier
    scales with SF) — the optimizer may still pick BHJ from size stats
    at test SF, which is fine."""
    from hadoop_tools_spark.operators.relational_ext import q21_waiting_supplier

    df = q21_waiting_supplier(spark, sf_dir)
    p = plan_str(df)
    assert p.count("lineitem.parquet") == 1, p
    assert "LeftSemi" not in p, p
    assert "LeftAnti" not in p, p
    assert "InMemoryTableScan" not in p, p
    assert "CartesianProduct" not in p
    # the distinct counts are stacked plain aggregations, never a
    # multi-countDistinct Expand (which would triple the fact rows
    # before any reduction)
    assert "Expand" not in p, p
    # no static hint survives optimization: AQE owns every decision
    opt = optimized_str(df)
    hinted = [ln for ln in opt.splitlines() if "strategy=broadcast" in ln]
    assert not hinted, opt


def test_repetition_quality_zero_shuffle(spark, sf_dir):
    """llm_repetition_quality: every signal is per-document sorted-run
    arithmetic on the scan — the plan must carry NO exchange at any
    scale (the old explode → groupBy → rejoin form shuffled the
    distinct (doc, term) pairs twice and joined the branches back)."""
    from hadoop_tools_spark.operators.llm_text import llm_repetition_quality

    p = plan_str(llm_repetition_quality(spark, sf_dir))
    # the only admissible exchange is load_spread's round-robin input
    # widening — never a hash/range shuffle of computed data
    for ln in p.splitlines():
        if "Exchange" in ln:
            assert "RoundRobinPartitioning" in ln, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_rouge_f1_doc_grain_joins(spark, sf_dir):
    """llm_rouge_f1: the multiset overlap is a row-side map_zip_with
    over per-doc word-count maps — the pair join happens at document
    grain, never re-shuffling token-grain counts per pair."""
    from hadoop_tools_spark.operators.llm_text import llm_rouge_f1

    df = llm_rouge_f1(spark, sf_dir)
    assert "map_zip_with" in optimized_str(df)
    # the word-count maps are built once and read back for both pair
    # sides from the cache
    assert plan_str(df).count("InMemoryTableScan") >= 2


def test_q20_fact_scanned_once(spark, sf_dir):
    """Q20's nested INs: the fact aggregation is materialized once (the
    per-supplier ship volumes feed BOTH the threshold scalar and the
    qualifier filter), so every lineitem reference in the plan sits
    under the cache — the physical scan happens exactly once, at
    materialization."""
    from hadoop_tools_spark.operators.relational_ext import q20_excess_shippers

    p = plan_str(q20_excess_shippers(spark, sf_dir))
    # both consumers read the cached ship aggregate, not the file
    assert p.count("InMemoryTableScan") >= 2, p
    for ln in p.splitlines():
        if "lineitem.parquet" in ln:
            assert "InMemoryRelation" in p[: p.index(ln)], p
    assert p.count("LeftSemi") >= 2, p


def test_q2_relationship_grain_before_dims(spark, sf_dir):
    """Q2: the distinct part↔supplier projection aggregates before
    any dimension join feeds the min — no cartesian, no nested
    loop."""
    from hadoop_tools_spark.operators.relational_ext import q2_min_cost_supplier

    p = plan_str(q2_min_cost_supplier(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_tfidf_n_total_in_plan_no_vocab_broadcast(spark, sf_dir):
    """TF-IDF: corpus size N rides the plan as a 1-row broadcast
    aggregate (no eager driver count() = no extra full scan), and the
    unbounded-vocabulary dfreq join carries NO static broadcast hint
    (AQE may still pick BHJ from runtime sizes)."""
    from hadoop_tools_spark.operators.llm_text import llm_tfidf

    tracker = spark.sparkContext._jsc.sc().statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    df = llm_tfidf(spark, sf_dir)
    jobs_after = len(tracker.getJobIdsForGroup(None))
    # at most the parquet footer-listing job — never a data-scan count
    assert jobs_after - jobs_before <= 1, (jobs_before, jobs_after)
    opt = optimized_str(df)
    hinted = [ln for ln in opt.splitlines() if "strategy=broadcast" in ln]
    # exactly one hint: the 1-row N aggregate (an unconditioned join);
    # the dfreq/word join must not be statically hinted
    assert len(hinted) == 1, opt
    assert "word" not in hinted[0], hinted[0]


def test_no_cartesian_product_anywhere(spark, sf_dir):
    """Global plan hygiene: no declared key may plan a CartesianProduct.
    Theta/range shapes must ride a broadcast nested-loop (bounded build
    side) or a bucketized equi key — an accidental cartesian at 100 TB
    is a job that never finishes. Sweeps every registered query."""
    from hadoop_tools_spark.registry import QUERIES

    offenders = {}
    for key, fn in QUERIES.items():
        try:
            p = plan_str(fn(spark, sf_dir))
        except Exception as e:  # build failures surface elsewhere
            offenders[key] = f"plan build failed: {type(e).__name__}"
            continue
        if "CartesianProduct" in p:
            offenders[key] = "CartesianProduct"
    spark.catalog.clearCache()
    assert not offenders, offenders


def test_sort_multi_no_global_window(spark, sf_dir):
    """Global rank must come from the range-partitioned two-phase
    numbering — a Window with no PARTITION BY serializes the table
    onto one task at scale."""
    from hadoop_tools_spark.operators.windows import sort_multi

    df = sort_multi(spark, sf_dir)
    p = plan_str(df)
    assert "Window" not in p, p
    assert "rangepartitioning" in p.lower(), p
    spark.catalog.clearCache()


def test_global_row_number_is_dense_permutation(spark, sf_dir):
    """pos must be exactly 1..N in the total order of the sort keys,
    across many partitions."""
    from pyspark.sql import functions as F2

    from hadoop_tools_spark.operators.windows import global_row_number

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    ranked = global_row_number(
        orders, [F2.col("o_totalprice").desc(), F2.col("o_orderkey")],
        n_parts=16,
    ).collect()
    n = len(ranked)
    assert sorted(r["pos"] for r in ranked) == list(range(1, n + 1))
    by_pos = sorted(ranked, key=lambda r: r["pos"])
    for a, b in zip(by_pos, by_pos[1:]):
        assert (a["o_totalprice"], -a["o_orderkey"]) >= (
            b["o_totalprice"], -b["o_orderkey"]
        )
    spark.catalog.clearCache()


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """sink_dpp_join's fact scan must carry a dynamicpruning#
    subquery on the partition column — the runtime filter that lists
    only the dim-selected partition directories."""
    from hadoop_tools_spark.sources.roundtrip import sink_dpp_join

    df = sink_dpp_join(spark, sf_dir)
    p = plan_str(df)
    assert "dynamicpruning" in p, p
    assert "CartesianProduct" not in p


def test_cbo_stats_drive_broadcast_choice(spark, sf_dir, tmp_path):
    """Cost-based optimization: with ANALYZE'd table stats and CBO on,
    Catalyst broadcasts the genuinely-small side of a join even when
    file-size estimation alone would not prove it small (the catalog
    row-count/size stats replace the raw-file heuristic). This is the
    mechanism that picks join strategies on a 100 TB warehouse where
    table sizes come from the metastore, not from listing files."""
    import uuid

    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    }
    db = f"cbodb_{uuid.uuid4().hex[:6]}"
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        spark.sql(f"CREATE DATABASE {db}")
        spark.sql(f"USE {db}")
        spark.read.parquet(f"{sf_dir}/nation.parquet").write.saveAsTable(
            "nation_t"
        )
        spark.read.parquet(f"{sf_dir}/customer.parquet").write.saveAsTable(
            "customer_t"
        )
        spark.sql("ANALYZE TABLE nation_t COMPUTE STATISTICS FOR ALL COLUMNS")
        spark.sql(
            "ANALYZE TABLE customer_t COMPUTE STATISTICS FOR ALL COLUMNS"
        )
        # catalog stats present and populated
        stats = spark.sql("DESC EXTENDED nation_t").collect()
        assert any("Statistics" in r.col_name for r in stats)
        df = spark.sql(
            """
            SELECT n_name, COUNT(*) AS n
            FROM customer_t JOIN nation_t ON c_nationkey = n_nationkey
            GROUP BY n_name
            """
        )
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in p, p
        # the optimized logical plan carries row-count estimates
        opt = df._jdf.queryExecution().optimizedPlan()
        st = opt.stats()
        assert st.rowCount().isDefined(), "CBO row-count estimate missing"
    finally:
        spark.sql("USE default")
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_resample_single_exchange(spark, sf_dir):
    """Both OHLC window orders and the final rollup must share ONE
    (user, bucket) hash exchange — a second sort is fine, a second
    shuffle is not."""
    from hadoop_tools_spark.operators.timeseries import ts_resample

    p = plan_str(ts_resample(spark, sf_dir))
    assert p.count("Exchange hashpartitioning") == 1, p


def test_overlap_join_is_bucketed_equi_join(spark, sf_dir):
    """The interval-overlap join must plan as an equi join on the day
    bucket (SMJ or BHJ) with the range predicates as post-join
    conditions — never a cartesian/theta nested loop."""
    from hadoop_tools_spark.operators.timeseries import ts_overlap_join

    p = plan_str(ts_overlap_join(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p), p


def test_agg_mode_histogram_first(spark, sf_dir):
    """agg_mode's windows and final rollup run over the value
    histogram: exactly one exchange keyed on the full (group, value)
    histogram grain plus one on the group key — never a third."""
    from hadoop_tools_spark.operators.aggregates import agg_mode

    p = plan_str(agg_mode(spark, sf_dir))
    assert p.count("Exchange hashpartitioning") <= 2, p


def test_null_aware_anti_join_planned_and_correct(spark, sf_dir):
    """NOT IN must plan Spark's null-aware anti join (the trailing
    `true` flag on the BroadcastHashJoin), NULL probe keys must be
    excluded from the result, and one build-side NULL must collapse
    the result to empty (three-valued logic)."""
    from hadoop_tools_spark.operators.joins import join_null_aware_anti

    df = join_null_aware_anti(spark, sf_dir)
    p = plan_str(df)
    assert re.search(r"LeftAnti, BuildRight, true", p), p
    rows = df.collect()
    assert rows, "non-degenerate fixture should yield survivors"
    assert all(r.c_custkey % 7 != 0 for r in rows)  # NULL probes excluded
    # build-side NULL: NOT IN over a set containing NULL is never true
    empty = spark.sql(
        "SELECT c_custkey FROM _naaj_customer WHERE c_nationkey NOT IN "
        "(SELECT CASE WHEN n_nationkey = 0 THEN NULL ELSE n_nationkey END "
        " FROM _naaj_nation)"
    )
    assert empty.count() == 0


def test_bm25_broadcasts_query_side(spark, sf_dir):
    """BM25's scoring join must broadcast the bounded query-term side
    (the corpus-sized (term, doc) counts never reshuffle for a
    query), with no cartesian anywhere."""
    from hadoop_tools_spark.operators.llm_retrieval import llm_bm25

    p = plan_str(llm_bm25(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_triangles_all_equi_joins(spark, sf_dir):
    """Degree-ordered triangle counting stays pure equi-join — the
    (deg, id) orientation is struct comparison inside join
    conditions, never a nested-loop theta join."""
    from hadoop_tools_spark.operators.analytics import graph_triangles

    p = plan_str(graph_triangles(spark, sf_dir))
    assert "CartesianProduct" not in p, p


def test_count_min_broadcasts_sketch(spark, sf_dir):
    """Probing joins the tiny probe set against the 2048-cell sketch —
    a broadcast, never a shuffle of the stream."""
    from hadoop_tools_spark.operators.analytics import agg_count_min

    p = plan_str(agg_count_min(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_pack_sequences_single_shard_exchange(spark, sf_dir):
    """Sequence packing's running-token window partitions on shard —
    exactly one hash exchange, no global (empty-partition) window."""
    from hadoop_tools_spark.operators.llm_text import llm_pack_sequences

    p = plan_str(llm_pack_sequences(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    # a global window would surface as SinglePartition exchange
    assert "SinglePartition" not in p, p


def test_sf1_plan_snapshot_invariants():
    """The sf1 plan-snapshot ledger (PLANS_SF1.json, written by
    `tools/gen_plan_report.py --sf1` over the top-30 cost keys at a
    10x fixture) must hold the scale invariants the r6 verdict asked
    to check at real sizes: no cartesian product, no nested-loop join
    appearing ONLY at sf1 (AQE must not fall back), no new
    single-partition exchange under a window, and DPP still firing on
    sink_dpp_join. Skips when the ledger has not been generated on
    this machine (it needs /tmp/sf1)."""
    import json
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "PLANS_SF1.json")
    if not os.path.exists(path):
        pytest.skip("PLANS_SF1.json not generated (run gen_plan_report --sf1)")
    with open(path) as fh:
        doc = json.load(fh)
    rows = doc["rows"]
    assert rows, "empty sf1 snapshot ledger"
    bad = {
        k: r.get("flags") or r.get("error")
        for k, r in rows.items()
        if r.get("flags") or "error" in r
    }
    assert not bad, f"sf1 plan invariant breaks: {bad}"
    assert "sink_dpp_join" in rows, "DPP key missing from the ledger"
    assert rows["sink_dpp_join"]["sf1"]["dpp"] == 1


def test_asof_nearest_is_equi_join(spark, sf_dir):
    """The nearest as-of join must plan as an equi join on the time
    bucket — the raw tolerance predicate alone would be a nested-loop
    join (the sf1 rehearsal timed out on exactly that)."""
    from hadoop_tools_spark.operators.joins import join_asof_nearest

    p = plan_str(join_asof_nearest(spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    ), p


def test_bpe_state_cached_corpus_scanned_once(spark, sf_dir):
    """_bpe_run: the vocabulary state table is materialized, so every
    merge round's pair aggregate and the apply key's vocab join read
    the cache — the corpus explode + word groupBy lineage must appear
    in the final apply plan only through InMemoryTableScan, with the
    documents scan paid exactly once (the docw side). Before r13 the
    uncached state re-ran the corpus aggregation once per consumer
    (4x in the apply key)."""
    from hadoop_tools_spark.operators.llm_text import llm_tokenize_apply

    df = llm_tokenize_apply(spark, sf_dir)
    # collectLeaves stops at InMemoryTableScan (a leaf), so cached
    # lineages don't count: the only parquet leaf is the docw side
    # (initialPlan: the AQE wrapper is itself a leaf until executed)
    leaves = (
        df._jdf.queryExecution().executedPlan().initialPlan().collectLeaves()
    )
    names = [leaves.apply(i).nodeName().strip() for i in range(leaves.size())]
    assert names.count("Scan parquet") == 1, names
    assert "InMemoryTableScan" in names, names


def test_quadratic_fanout_spreads_gated(spark, sf_dir):
    """Quadratic-fan-out operators spread their compute side when the
    fixture is big enough to pay: at sf0.1 join_fuzzy_match's probe
    and llm_embed_gram's mapInPandas input each carry a round-robin
    exchange (the per-row work is |block|- resp. dim²-proportional,
    so the single-row-group scan would otherwise run the whole pass
    on one task), while agg_count_min's probes branch reads the scan
    directly instead of routing through the spread (one round-robin
    in the whole plan). At the tiny default test SF the byte gates
    skip the exchanges for fuzzy/gram — the same plans stay
    spread-free. Plan-shape only: nothing executes at sf0.1 here."""
    from hadoop_tools_spark.operators.analytics import agg_count_min
    from hadoop_tools_spark.operators.joins import join_fuzzy_match
    from hadoop_tools_spark.operators.llm_knn import llm_embed_gram

    big = "/root/testdata/sf0.1"
    for fn in (join_fuzzy_match, llm_embed_gram):
        p = plan_str(fn(spark, big))
        assert "RoundRobinPartitioning" in p, (fn.__name__, p)
        p_small = plan_str(fn(spark, sf_dir))
        assert "RoundRobinPartitioning" not in p_small, (fn.__name__, p_small)
    p = plan_str(agg_count_min(spark, big))
    rr = [ln for ln in p.splitlines() if "RoundRobinPartitioning" in ln]
    assert len(rr) == 1, p
