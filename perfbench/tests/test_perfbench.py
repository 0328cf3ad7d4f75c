"""Self-tests of the benchmark: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402


def _tree(root, seed):
    manifest = datagen.make_tree(str(root), seed, W.TREE_FANOUT, W.TREE_FILES)
    strip = len(str(root))
    return (
        [d[strip:] for d in manifest["dirs"]],
        {f[strip:]: n for f, n in manifest["files"].items()},
    ), W.Tree(manifest)


def _sequence(tree, seed, rounds=3):
    rng = random.Random(seed)
    strip = len(tree.root)
    return [
        [a[strip:] if a.startswith(tree.root) else a for a in c.argv]
        for i in range(rounds)
        for c in W.cli_round(tree, rng, tree.root + "/w", tree.root + "/put", 1024, f"r{i}")
    ]


def test_same_seed_same_tree_and_commands(tmp_path):
    a, tree_a = _tree(tmp_path / "a", 7)
    b, tree_b = _tree(tmp_path / "b", 7)
    c, tree_c = _tree(tmp_path / "c", 8)
    assert a == b
    assert a != c
    assert _sequence(tree_a, 7) == _sequence(tree_b, 7)
    assert _sequence(tree_a, 7) != _sequence(tree_c, 8)
    on_disk = {
        os.path.join(d, f)[len(str(tmp_path / "a")):]
        for d, _s, fs in os.walk(tmp_path / "a")
        for f in fs
    }
    assert on_disk == set(a[1])


def test_round_shape_and_write_order(tmp_path):
    _m, tree = _tree(tmp_path, 3)
    cmds = W.cli_round(tree, random.Random(3), str(tmp_path / "w"), "put", 1024, "r0")
    by = {}
    for c in cmds:
        by[c.cls] = by.get(c.cls, 0) + 1
    assert by == {W.POINT: 16, W.WRITE: 8, W.WALK: 6, W.FIND: 1}
    verbs = [c.argv[0] for c in cmds if c.cls == W.WRITE]
    assert verbs == ["mkdir", "put", "mv", "rm"] * 2


def test_tables_are_deterministic_and_typed():
    a, b = datagen.build_tables(0.001), datagen.build_tables(0.001)
    assert set(a) == set(
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    )
    for name in a:
        assert a[name].equals(b[name]), name
    assert str(a["events"].schema.field("ts").type) == "timestamp[ns]"
    assert str(a["orders"].schema.field("o_orderdate").type) == "timestamp[ms]"
    docs = a["documents"].column("text").to_pylist()
    assert any(t.endswith(" dup") and t[:-4] in docs for t in docs)


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert run.tail(list(range(1000)))[0] == 99.0
    assert run.tail(list(range(200)))[0] == 95.0
    assert run.tail(list(range(40)))[0] == 75.0
    assert run.tail(list(range(5))) == (50.0, 2)
    assert run.tail([1.0, 2.0, 3.0, 4.0]) == (50.0, 2.5)


def test_every_printed_metric_is_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(W.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("local")
    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(local))
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_job_and_stage_deltas_land_in_their_phase(spark):
    sc = spark.sparkContext
    probe = probes.StageProbe(spark)
    sc.setJobGroup("t.build", "build")
    spark.range(100, numPartitions=2).count()
    sc.setJobGroup("t.exec", "exec")
    spark.range(100, numPartitions=4).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    spark.range(100, numPartitions=4).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.range(100, numPartitions=5).collect()  # outside both groups
    build, execd = probe.group("t.build"), probe.group("t.exec")
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 2, 2 + 1)
    assert (execd["jobs"], execd["stages"], execd["tasks"]) == (2, 3, 4 + 3 + 4)
    assert execd["task_s"] > 0
    assert probe.group("t.none")["jobs"] == 0


def test_task_time_is_stage_run_time_not_wall(spark):
    # four 0.4 s tasks on two cores: the stages' run time adds up to about
    # twice the wall time, which executor totalDuration would not show
    import time

    def _sleep_rows(rows):  # nested, so workers unpickle it by value
        import time

        for r in rows:
            time.sleep(0.4)
            yield r

    sc = spark.sparkContext
    probe = probes.StageProbe(spark)
    sc.setJobGroup("t.sleep", "sleep")
    t0 = time.perf_counter()
    sc.parallelize(range(4), 4).mapPartitions(_sleep_rows).count()
    wall = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    stats = probe.group("t.sleep")
    assert stats["tasks"] == 4
    assert stats["task_s"] >= 1.6
    assert stats["task_s"] > 1.3 * wall


def test_py4j_count_repeats_exactly(spark):
    counter = probes.Py4JCounter(spark.sparkContext._gateway._gateway_client)
    counter.install()
    try:
        counts = []
        for _ in range(3):
            with counter.counting() as n:
                spark.range(10).selectExpr("id * 2 AS x").filter("x > 3").schema
            counts.append(n[0])
    finally:
        counter.uninstall()
    assert counts[0] > 0
    assert len(set(counts)) == 1
    assert "send_command" not in spark.sparkContext._gateway._gateway_client.__dict__
