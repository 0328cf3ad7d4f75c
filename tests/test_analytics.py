"""Event-analytics + introspection operators (operators/analytics.py).

Value correctness is covered by test_oracle_parity's parametrized
sweep; these tests pin the *plan shapes* and semantic invariants that
matter at 100 TB.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sessionize_single_exchange(spark, sf_dir):
    """Window + per-session agg share one hash exchange on user_id.

    HashPartitioning(user_id) satisfies the group-by's clustering on
    (user_id, session_id), so Catalyst must not plan a second shuffle.
    """
    from hadoop_tools_spark.operators.analytics import sessionize_batch

    p = plan_str(sessionize_batch(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p


def test_sessionize_gap_semantics(spark, sf_dir):
    from hadoop_tools_spark.operators.analytics import sessionize_batch

    rows = sessionize_batch(spark, sf_dir).collect()
    # sessions are 1-based and contiguous per user
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.session_id)
    for sids in by_user.values():
        assert sorted(sids) == list(range(1, len(sids) + 1))
    # no session spans a >30min internal gap start-to-start; cheap
    # necessary condition: duration >= 0 and events >= 1
    assert all(r.duration_sec >= 0 and r.n_events >= 1 for r in rows)


def test_funnel_monotone(spark, sf_dir):
    from hadoop_tools_spark.operators.analytics import funnel_stages

    rows = {r.stage: r.users for r in funnel_stages(spark, sf_dir).collect()}
    assert rows["view"] >= rows["click"] >= rows["purchase"]


def test_retention_week0_equals_cohort_size(spark, sf_dir):
    from hadoop_tools_spark.operators.analytics import retention_cohort

    rows = retention_cohort(spark, sf_dir).collect()
    week0 = {r.cohort_week: r.users for r in rows if r.week_offset == 0}
    later = [r for r in rows if r.week_offset > 0]
    # every user is active in their own cohort week, so offset-0 users
    # is the cohort size and no later offset can exceed it
    for r in later:
        assert r.users <= week0[r.cohort_week]


def test_bloom_filter_injected_when_thresholds_allow(spark, sf_dir):
    """The 100 TB path: with the application-side scan threshold
    lowered, Catalyst injects a bloom-filter semi-join reduction into
    the fact scan of join_bloom_runtime's shuffle-join variant."""
    from hadoop_tools_spark.operators.analytics import join_bloom_runtime

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        # force a shuffle join (no broadcast) and allow injection on a
        # tiny fact side
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = join_bloom_runtime(spark, sf_dir)
        p = df._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom" in p or "might_contain" in p, p
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_pagerank_mass_conserved(spark, sf_dir):
    from hadoop_tools_spark.operators.analytics import graph_pagerank

    rows = graph_pagerank(spark, sf_dir).collect()
    total = sum(r["rank"] for r in rows)
    # symmetric graph, no dangling nodes: rank mass stays ~1
    assert abs(total - 1.0) < 1e-3, total
    assert all(r["rank"] > 0 for r in rows)


def test_parquet_meta_footer_only(spark, sf_dir):
    """The key reads its oracle's directory whatever sf_dir it is given."""
    from hadoop_tools_spark.operators.analytics import parquet_meta
    from hadoop_tools_spark.operators.fs import ORACLE_SF_DIR

    rows = parquet_meta(spark, sf_dir).collect()
    files = {r.file for r in rows}
    assert "lineitem.parquet" in files and "embeddings.parquet" in files
    li = [r for r in rows if r.file == "lineitem.parquet"]
    # one row per column chunk, num_values equals table rows for flat cols
    n = spark.read.parquet(f"{ORACLE_SF_DIR}/lineitem.parquet").count()
    assert all(r.num_values == n for r in li)
    assert all(r.compressed_bytes > 0 for r in rows)


def test_profile_matches_direct_aggregates(spark, sf_dir):
    from hadoop_tools_spark.operators.analytics import profile_columns

    prof = {r.col_name: r for r in profile_columns(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert prof["l_orderkey"].n_distinct == li.select("l_orderkey").distinct().count()
    assert prof["l_returnflag"].n_nulls == 0
    assert prof["l_returnflag"].min_val == "A"


def test_skyline_no_dominated_row_survives(spark, sf_dir):
    from hadoop_tools_spark.operators.analytics import skyline_pareto

    rows = skyline_pareto(spark, sf_dir).collect()
    pts = [(r.max_price, r.n_orders) for r in rows]
    for a in pts:
        for b in pts:
            strictly_dominates = (
                b[0] >= a[0] and b[1] >= a[1] and (b[0] > a[0] or b[1] > a[1])
            )
            assert not strictly_dominates, (a, b)


def test_skyline_local_prune_sound(spark, sf_dir):
    """Every globally non-dominated customer survives phase 1 no matter
    how rows are partitioned: compare against a brute-force frontier."""
    from hadoop_tools_spark.operators.analytics import skyline_pareto
    from pyspark.sql import functions as F

    agg = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_custkey")
        .agg(
            F.round(F.max("o_totalprice"), 2).alias("p"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    pts = [(r.p, r.n, r.o_custkey) for r in agg]
    brute = {
        c
        for p, n, c in pts
        if not any(
            q >= p and m >= n and (q > p or m > n) for q, m, _ in pts
        )
    }
    got = {r.o_custkey for r in skyline_pareto(spark, sf_dir).collect()}
    assert got == brute


def test_bitmap_distinct_matches_exact(spark, sf_dir):
    from hadoop_tools_spark.operators.analytics import agg_bitmap_distinct
    from pyspark.sql import functions as F

    got = {r.o_orderpriority: r.n_customers
           for r in agg_bitmap_distinct(spark, sf_dir).collect()}
    exact = {
        r.o_orderpriority: r.n
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert got == exact


def test_misra_gries_finds_all_heavy_hitters(spark, sf_dir):
    """Bounded-memory Misra-Gries summaries (k counters per partition,
    merged associatively) never miss a true >= 1/k-frequency item —
    the sketch-side guarantee behind agg_heavy_hitters' scale note."""
    import pandas as pd

    k = 2000  # counters per summary; guarantees support >= n/k found

    def mg_partition(batches):
        counters = {}
        for pdf in batches:
            for x in pdf["l_partkey"]:
                if x in counters:
                    counters[x] += 1
                elif len(counters) < k:
                    counters[x] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
        yield pd.DataFrame(
            {"l_partkey": list(counters), "w": list(counters.values())}
        )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_partkey")
    # per-partition summaries merge by summing weights then re-pruning;
    # at fixture scale a single merge level suffices
    summary = (
        li.mapInPandas(mg_partition, schema="l_partkey long, w long")
        .groupBy("l_partkey")
        .sum("w")
    )
    candidates = {r.l_partkey for r in summary.collect()}

    from hadoop_tools_spark.operators.aggregates import agg_heavy_hitters

    true_hh = {r.l_partkey for r in agg_heavy_hitters(spark, sf_dir).collect()}
    # MG may return extra candidates (verified in a second pass at
    # scale) but can never drop a true heavy hitter
    assert true_hh <= candidates


def test_running_distinct_single_exchange(spark, sf_dir):
    import re

    from hadoop_tools_spark.operators.windows import win_running_distinct

    p = plan_str(win_running_distinct(spark, sf_dir))
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1, p


def test_running_distinct_matches_bruteforce(spark, sf_dir):
    from hadoop_tools_spark.operators.windows import win_running_distinct

    got = {
        r.event_id: r.distinct_types_so_far
        for r in win_running_distinct(spark, sf_dir).collect()
    }
    from hadoop_tools_spark.io import load

    rows = (
        load(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .collect()
    )
    by_user = {}
    for r in sorted(rows, key=lambda r: (r.ts, r.event_id)):
        seen = by_user.setdefault(r.user_id, set())
        seen.add(r.event_type)
        assert got[r.event_id] == len(seen), r.event_id


def test_running_distinct_counts_null_type_once(spark, tmp_path):
    """NULL event_type is ONE distinct value, counted once: the
    first-seen flag must not conflate 'no previous row' (partition
    start) with 'previous value was NULL' — lag IS NULL alone flagged
    every consecutive NULL-type row as first-seen."""
    import datetime

    from hadoop_tools_spark.operators.windows import win_running_distinct

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0 + datetime.timedelta(seconds=s), eid, et)
        for s, eid, et in [
            (1, 10, None),
            (2, 11, None),   # second NULL: still 1 distinct type
            (3, 12, "a"),
            (4, 13, None),   # NULL again: no new type
            (5, 14, "b"),
        ]
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, event_type string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r.event_id: r.distinct_types_so_far
        for r in win_running_distinct(spark, str(tmp_path)).collect()
    }
    assert got == {10: 1, 11: 1, 12: 2, 13: 2, 14: 3}, got


def test_semdedup_within_cluster_only(spark, sf_dir):
    from hadoop_tools_spark.operators.llm_knn import llm_semdedup

    rows = llm_semdedup(spark, sf_dir).collect()
    assert rows, "threshold should yield pairs on the fixture"
    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    for r in rows:
        # keeper and dropped share the cluster, keeper has smaller id
        assert labels[r.dropped] == r.label == labels[r.kept_by]
        assert r.kept_by < r.dropped
        assert r.max_cos > 0.3


def test_ts_autocorr_moments_survive_int64_overflow(spark, tmp_path):
    """The sf10 failure class: daily cent totals ~4e15 make every
    quadratic moment product ~1.6e31 — far past int64 — so a plain
    BIGINT sum would silently wrap (Spark is non-ANSI here). The
    decimal(38,0) widening must instead reproduce the exact-integer
    computation (mirrored in floats the same way the query does)."""
    import datetime
    import math

    from hadoop_tools_spark.operators.timeseries import ts_autocorr

    base = datetime.datetime(2024, 1, 1)
    # whole-dollar values so cents = value*100 is float-exact (< 2^53)
    dollars = [40_000_000_000_000 + d * 37_000_000_000 for d in range(9)]
    spark.createDataFrame(
        [(base + datetime.timedelta(days=d), float(v))
         for d, v in enumerate(dollars)],
        "ts timestamp, value double",
    ).write.parquet(str(tmp_path / "events.parquet"))

    got = {r.k: r for r in ts_autocorr(spark, str(tmp_path)).collect()}

    cents = [v * 100 for v in dollars]
    for k in (1, 7):
        xs, ys = cents[:-k], cents[k:]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        assert max(sxy, sxx, syy) > 2**63, "fixture must exceed int64"
        r = (float(n) * float(sxy) - float(sx) * float(sy)) / math.sqrt(
            (float(n) * float(sxx) - float(sx) * float(sx))
            * (float(n) * float(syy) - float(sy) * float(sy))
        )
        want = math.floor(r * 1_000_000 + 0.5) / 1_000_000
        assert got[k].n_pairs == n
        assert got[k].autocorr6 == want


def test_lttb_bucket_division_matches_duckdb_for_negative_t(spark):
    """ts_lttb's bucket expression (Spark `div`) must agree with the
    oracle's DuckDB integer `//` across the sign boundary — ADVICE r7
    worried `//` floors while `div` truncates; in fact BOTH truncate
    toward zero for integers (the r8 review caught a floor-division
    'fix' that would have CREATED the divergence). Pinned against a
    live DuckDB probe, not an assumption about either engine."""
    import duckdb

    from hadoop_tools_spark.operators.timeseries import _LTTB_S

    ts = [-2 * _LTTB_S, -_LTTB_S - 1, -_LTTB_S, -1, 0, 1,
          _LTTB_S - 1, _LTTB_S, 2 * _LTTB_S + 7]
    got = {
        r.t: r.bucket
        for r in spark.createDataFrame([(t,) for t in ts], "t long")
        .selectExpr("t", f"t div {_LTTB_S} AS bucket")
        .collect()
    }
    want = dict(duckdb.sql(
        "SELECT t, t // {s} FROM (VALUES {v}) x(t)".format(
            s=_LTTB_S, v=", ".join(f"({t}::BIGINT)" for t in ts)
        )
    ).fetchall())
    assert got == want


def test_lttb_end_to_end_with_pre_origin_events(spark, tmp_path):
    """ts_lttb over a fixture straddling the rebase origin: pre-origin
    rows must not crash, and every returned point's bucket_start must
    align under the shared truncate-toward-zero semantics."""
    import datetime

    from hadoop_tools_spark.operators.timeseries import (
        _LTTB_BASE, _LTTB_S, ts_lttb,
    )

    def trunc_div(a, b):  # both engines' integer division semantics
        q = abs(a) // b
        return -q if a < 0 else q

    rows = []
    for i, off in enumerate(
        [-3 * _LTTB_S, -_LTTB_S // 2, -5, 10, _LTTB_S + 3, 4 * _LTTB_S]
    ):
        rows.append((
            1,
            1000 + i,
            datetime.datetime.fromtimestamp(
                _LTTB_BASE + off, datetime.timezone.utc
            ),
            float(i),
        ))
    spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    ).write.parquet(str(tmp_path / "events.parquet"))

    out = ts_lttb(spark, str(tmp_path)).collect()
    assert out, "pre-origin events must still produce output"
    for r in out:
        rebased = r.ts_sec - _LTTB_BASE
        assert (r.bucket_start - _LTTB_BASE) == (
            trunc_div(rebased, _LTTB_S) * _LTTB_S
        )


def test_label_prop_semantics(spark, sf_dir):
    """Label propagation: seeds keep their pinned class, every label
    is a seed class or -1, propagation strictly grows coverage, and
    a hand-built path graph propagates exactly one hop per round."""
    from hadoop_tools_spark.operators.analytics import graph_label_prop

    rows = graph_label_prop(spark, sf_dir).collect()
    labels = {r.label for r in rows}
    assert labels <= set(range(7)) | {-1}
    # seeded classes exist and most of this dense graph is reached
    reached = sum(r.n_nodes for r in rows if r.label >= 0)
    total = sum(r.n_nodes for r in rows)
    assert reached > 0.9 * total

    # hand path graph: 0-1-2-3-4-5-6-7 with only node 0 seeded
    # (node % 10 == 0 → label 0); after 3 synchronous rounds labels
    # reach exactly distance-3 nodes — node ids chosen so no other
    # node is a seed and the mode/tie-break never fires
    import pyspark.sql.functions as F

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "src long, dst long"
    )
    sym = path.union(path.select(F.col("dst"), F.col("src")))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels_df = nodes.select(
        "node",
        F.when(F.col("node") % 10 == 0, F.col("node") % 7)
        .cast("long")
        .alias("lbl"),
    )
    for _ in range(3):
        nb = (
            sym.join(
                labels_df.filter(F.col("lbl").isNotNull()),
                sym.src == F.col("node"),
            )
            .groupBy(F.col("dst").alias("nnode"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        best = (
            nb.groupBy("nnode")
            .agg(
                F.max(
                    F.struct(
                        F.col("c").alias("c"), (-F.col("lbl")).alias("neg")
                    )
                ).alias("m")
            )
            .select("nnode", (-F.col("m")["neg"]).alias("blbl"))
        )
        labels_df = labels_df.join(
            best, labels_df.node == F.col("nnode"), "left"
        ).select(
            "node",
            F.coalesce(
                F.when(F.col("node") % 10 == 0, F.col("node") % 7).cast(
                    "long"
                ),
                F.col("blbl"),
                F.col("lbl"),
            ).alias("lbl"),
        )
    got = {r.node: r.lbl for r in labels_df.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: None, 5: None, 6: None,
                   7: None}


def test_modularity_identities(spark, sf_dir):
    """Modularity bookkeeping is internally consistent: Σ deg_sum =
    2m, Σ in_edges counts every intra-community edge twice, every
    contribution matches in_c*2m - deg_c^2, the derived Q lies in
    [-0.5, 1], and the LPA partition beats the degenerate one-
    community partition (whose Q is exactly 0)."""
    from hadoop_tools_spark.operators.analytics import (
        _edges,
        graph_modularity,
    )

    rows = graph_modularity(spark, sf_dir).collect()
    assert rows
    m2 = _edges(spark, sf_dir).count()
    assert sum(r.deg_sum for r in rows) == m2
    for r in rows:
        assert r.in_edges % 2 == 0  # both directions counted
        assert r.contrib_scaled == r.in_edges * m2 - r.deg_sum**2
    q = sum(r.contrib_scaled for r in rows) / (m2 * m2)
    assert -0.5 <= q <= 1.0


def test_graph_keys_order_independent(spark, sf_dir):
    """pagerank, label_prop and modularity return the same rows and
    plan the same number of exchanges whichever graph key ran before
    them in one session, with no clearCache() between keys: shared
    work is reused only through Spark's plan-keyed CacheManager."""
    from hadoop_tools_spark.operators.analytics import (
        graph_label_prop,
        graph_modularity,
        graph_pagerank,
    )

    keys = {
        "pagerank": graph_pagerank,
        "label_prop": graph_label_prop,
        "modularity": graph_modularity,
    }

    def run(order):
        out = {}
        for name in order:
            df = keys[name](spark, sf_dir)
            rows = sorted(df.collect())
            out[name] = (rows, plan_str(df).count("Exchange"))
        return out

    spark.catalog.clearCache()  # start from no cached graph state
    forward = run(list(keys))
    reverse = run(list(keys)[::-1])
    for name in keys:
        assert forward[name][0] == reverse[name][0], name
        assert forward[name][1] == reverse[name][1], name
