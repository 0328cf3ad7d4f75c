"""Repository benchmark: one workload, one client, closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The engine runs on ``local[<cores>]``.
Workloads (``perfbench/workloads.py``):

- ``lakehouse_rw``: passes over the workload's query keys, each key
  built (``fn(spark, sf_dir)``) and run into the noop sink, in a key
  order drawn from the seed. The tables are generated once per checkout
  under ``.perfbench/data``.
- ``hh_cli``: rounds of ``cli.main([...], spark=spark)`` commands over a
  file tree, both drawn from the seed.

Set-up (imports, session start and two warm passes at the workload's
own scale) is timed on its own. The first warm pass checks every output:
query keys against their DuckDB oracle (``tools/verify_local.compare``),
keys without an oracle for a non-empty result, CLI commands against the
tree manifest. Timed passes check each key's row count and each
command's output again, outside the timed regions.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, read from
spans, the Py4J counter and Spark's status store; the spans go to
``.perfbench/trace-<workload>-<seed>.json``. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
Everything a run writes stays under ``.perfbench/`` in the repository
root, and its scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import io
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import probes  # noqa: E402
import workloads as W  # noqa: E402

#: percentiles tried, highest first, for a tail latency
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

#: unit of every metric this benchmark prints
UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_ms": "ms",
    "py_peak_rss_mb": "MB",
}


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile of sorted ``xs`` (p50 = median)."""
    pos = p / 100.0 * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of the ladder with at
    least ten samples beyond it, or the median when there are fewer than
    twenty samples."""
    xs = sorted(values)
    p = next((p for p in TAIL_LADDER if len(xs) * (1 - p / 100.0) >= 10), 50.0)
    return p, percentile(xs, p)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Run:
    """Set-up, the closed loop of passes and the result of one run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.rng = random.Random(seed)
        self.base = os.path.join(ROOT, ".perfbench")
        self.work = os.path.join(self.base, f"run-{os.getpid()}")
        self.scratch = os.path.join(self.work, "scratch")
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.jvm = None

    def fail(self, what: str, why: str) -> None:
        self.failures.append(f"{what}: {why}")
        print(f"perfbench: FAIL {what}: {why}", file=sys.stderr)

    def isolate(self) -> None:
        """Point every path the engine writes at this run's directory."""
        for sub in ("scratch", "local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, sub))
        os.environ.update(
            HTS_SCRATCH=self.scratch,
            HTS_CWD_FILE=os.path.join(self.work, "cwd"),
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"),
            TMPDIR=os.path.join(self.work, "tmp"),
            # no hsperfdata files under /tmp from spark-submit's launcher JVM
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        )

    def start(self) -> dict:
        """Import the engine and start its session; returns the times."""
        t0 = time.perf_counter()
        from pyspark.sql import SparkSession

        from hadoop_tools_spark import all_queries, cli, registry  # noqa: F401
        from hadoop_tools_spark.session import ensure_session_confs

        t1 = time.perf_counter()
        self.cores = len(os.sched_getaffinity(0))
        spark = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName(f"perfbench-{self.workload}")
            .config("spark.sql.shuffle.partitions", str(max(self.cores, 8)))
            .config("spark.driver.memory", "2g")
            .config("spark.ui.enabled", "false")
            .config("spark.local.dir", os.path.join(self.work, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={self.work}/tmp -Dderby.system.home={self.work}"
                " -XX:-UsePerfData",
            )
            .getOrCreate()
        )
        self.spark = spark
        self.jvm = getattr(spark.sparkContext._gateway, "proc", None)
        # workers import the package from the checkout (PYTHONPATH), so
        # the engine's package shipping, which writes under /tmp, is skipped
        spark.sparkContext._hts_pkg_shipped = True
        ensure_session_confs(spark)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        t2 = time.perf_counter()
        self.registry, self.cli = registry, cli
        return {"import_s": t1 - t0, "start_s": t2 - t1}

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and its workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if self.jvm is not None:
            if self.jvm.stdin:
                self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()

    def instruments(self) -> None:
        """Counter, tracer and stage probe for the traced passes."""
        client = self.spark.sparkContext._gateway._gateway_client
        self.counter = probes.Py4JCounter(client)
        self.tracer = probes.Tracer()
        self.stage_probe = probes.StageProbe(self.spark)

    def hook(self, on: bool) -> None:
        """Install the tracing hooks for a traced pass, or remove them."""
        if not on:
            self.tracer.unhook()
            self.counter.uninstall()
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            return
        from hadoop_tools_spark.sources import fsops, listing

        self.counter.install()
        for name in ("list_status_df", "list_files_distributed"):
            self.tracer.hook(listing, name, self.counter)
        self.tracer.hook(self.cli, "_glob_status", self.counter)
        for name in ("mkdirs", "delete", "rename", "exists", "is_dir",
                     "is_file", "copy_from_local"):
            self.tracer.hook(fsops, name, self.counter)

    def add_listing(self, out: dict, span: dict) -> float:
        """Add the listing spans under ``span`` (``listing.*`` and
        ``cli._glob_status``) to a pass's sums; returns their ms."""
        ms = 0.0
        for s in self.tracer.spans[span["id"]:]:
            if s["name"].startswith(("listing.", "cli.")):
                ms += 1e3 * (s["end"] - s["start"])
                out["listing_calls"] += s["py4j_calls"]
        out["listing_ms"] += ms
        return ms

    def loop(self) -> tuple[list[dict], list[dict]]:
        """Closed loop of passes until ``seconds`` have been measured. A
        traced run alternates untraced and traced passes in the order
        U T T U U T T ..., and goes on until it has one of each."""
        done = {False: [], True: []}
        t_end = time.perf_counter() + self.seconds
        i = 0
        while True:
            traced = self.trace and i % 4 in (1, 2)
            if traced:
                self.hook(True)
            try:
                done[traced].append(self.one_pass(i, traced))
            finally:
                if traced:
                    self.hook(False)
            i += 1
            if time.perf_counter() >= t_end and (done[True] or not self.trace):
                return done[False], done[True]

    def execute(self) -> dict:
        self.isolate()
        self.prepare()
        setup = self.start()
        if self.trace:
            self.instruments()
        # the first warm pass collects and checks every output; the
        # second runs the timed code path, since one pass leaves the
        # JVM far from steady
        setup["warm_s"] = self.warm() + self.one_pass(-1, False)["wall_s"]
        plain, traced = self.loop()
        setup["rss"] = probes.peak_rss_mb(self.jvm.pid if self.jvm else None)
        if self.trace:
            metrics = self.layer_metrics(setup, plain, traced)
            self.tracer.dump(
                os.path.join(self.base, f"trace-{self.workload}-{self.seed}.json")
            )
        else:
            ops = [x for p in plain for x in p["ops"]]
            metrics = {
                "setup_s": setup["import_s"] + setup["start_s"] + setup["warm_s"],
                "wall_s": median(p["wall_s"] for p in plain),
                "op_p50_ms": 1e3 * median(ops),
                # the JVM's peak swings by 10-20% between identical runs
                # (heap growth follows GC timing), so only the Python
                # driver's peak is steady enough to bound; the JVM's is a
                # per-layer metric
                "py_peak_rss_mb": setup["rss"]["python"],
            }
        report = {
            "workload": self.workload, "seed": self.seed, "trace": int(self.trace),
            "setup": setup, "passes": plain, "traced_passes": traced,
            "failures": self.failures,
        }
        report.update(self.extra_report(plain))
        with open(os.path.join(
            self.base, f"report-{self.workload}-{self.seed}-t{int(self.trace)}.json"
        ), "w", encoding="utf-8") as fh:
            json.dump(report, fh, default=str)
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {
                k: {"value": v, "unit": UNITS.get(k) or LAYER_UNITS[k]}
                for k, v in metrics.items()
            },
        }

    def extra_report(self, plain: list[dict]) -> dict:
        return {}

    def layer_metrics(self, setup: dict, plain: list[dict], traced: list[dict]) -> dict:
        """Per-layer metrics: medians over traced passes of per-pass sums."""

        def med(k):
            return median(p[k] for p in traced)

        calls = [p["py4j"] for p in traced]
        exec_s = med("exec_s")
        m = {
            "session.import_s": setup["import_s"],
            "session.start_s": setup["start_s"],
            "session.warm_s": setup["warm_s"],
            "builder.build_s": med("build_s"),
            "builder.jobs": med("builder_jobs"),
            "builder.py4j_calls": med("py4j"),
            "builder.py4j_spread": max(calls) - min(calls),
            "spark.exec_s": exec_s,
            "spark.jobs": med("jobs"),
            "spark.stages": med("stages"),
            "spark.tasks": med("tasks"),
            "spark.task_s": med("task_s"),
            "spark.cpu_s": med("cpu_s"),
            "spark.core_util": median(
                p["task_s"] / (p["exec_s"] * self.cores) if p["exec_s"] else 0.0
                for p in traced
            ),
            "spark.shuffle_write_mb": med("shuffle_write_mb"),
            "spark.spill_mb": med("spill_mb"),
            "spark.gc_s": med("gc_s"),
            "spark.input_mb": med("input_mb"),
            "spark.jobs_per_op": median(p["jobs"] / max(1, len(p["ops"])) for p in traced),
            "sources.output_mb": med("output_mb"),
            "sources.scratch_mb": med("scratch_mb"),
            "sources.scratch_files": med("scratch_files"),
            "listing.walk_ms": med("listing_ms"),
            "listing.py4j_calls": med("listing_calls"),
            "cli.self_ms": med("cli_self_ms"),
            "mem.jvm_peak_rss_mb": setup["rss"]["jvm"],
            "trace.overhead_s": med("wall_s") - median(p["wall_s"] for p in plain),
            "trace.unaccounted_s": med("unaccounted_s"),
        }
        m.update(self.class_latencies(plain))
        return m

    def class_latencies(self, plain: list[dict]) -> dict:
        return {k: 0.0 for k in CLASS_METRICS}


#: hh_cli command-class latencies, from the untraced passes
CLASS_METRICS = (
    "cli.point_p50_ms", "cli.point_tail_ms", "cli.write_p50_ms",
    "cli.write_tail_ms", "cli.walk_p50_ms", "cli.walk_tail_ms",
    "cli.find_p50_ms",
)

LAYER_UNITS = {
    "session.import_s": "s", "session.start_s": "s", "session.warm_s": "s",
    "builder.build_s": "s", "builder.jobs": "count",
    "builder.py4j_calls": "count", "builder.py4j_spread": "count",
    "spark.exec_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_s": "s", "spark.cpu_s": "s",
    "spark.core_util": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s", "spark.input_mb": "MB",
    "spark.jobs_per_op": "count", "sources.output_mb": "MB",
    "sources.scratch_mb": "MB", "sources.scratch_files": "count",
    "listing.walk_ms": "ms", "listing.py4j_calls": "count",
    "cli.self_ms": "ms", "mem.jvm_peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.unaccounted_s": "s",
    **{k: "ms" for k in CLASS_METRICS},
}


#: per-pass sums of a traced pass: Spark's, then the other layers'
SPARK_SUMS = ("jobs", "stages") + probes.STAGE_FIELDS
TRACED_SUMS = SPARK_SUMS + (
    "builder_jobs", "py4j", "output_mb", "scratch_mb", "scratch_files",
    "unaccounted_s", "listing_ms", "listing_calls", "cli_self_ms",
)


class QueryRun(Run):
    """Passes over query keys (``lakehouse_rw``)."""

    def prepare(self) -> None:
        self.keys = W.QUERY_WORKLOADS[self.workload]
        data = os.path.join(self.base, "data", f"sf{W.SF}-{datagen.version()}")
        if not os.path.isdir(data):
            os.makedirs(os.path.dirname(data), exist_ok=True)
            datagen.write_tables(data, W.SF)
        self.sf_dir = data

    def warm(self) -> float:
        """One pass that collects every key's result and checks it;
        returns the time spent building and collecting."""
        import duckdb

        spec = importlib.util.spec_from_file_location(
            "verify_local", os.path.join(ROOT, "tools", "verify_local.py")
        )
        verify = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(verify)
        duck = duckdb.connect()
        for t in verify.TABLES:
            duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        self.rows: dict[str, int] = {}
        spent = 0.0
        for key in W.key_order(self.keys, self.rng):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                pdf = self.registry.QUERIES[key](self.spark, self.sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - a failing key is a result
                self.fail(key, f"{type(e).__name__}: {e}")
                continue
            spent += time.perf_counter() - t0
            self.spark.catalog.clearCache()
            self.rows[key] = len(pdf)
            if key not in self.registry.ORACLES:
                if not len(pdf):
                    self.fail(key, "empty result")
                continue
            odf = duck.execute(self.registry.ORACLES[key]).fetchdf()
            errs = verify.compare(key, pdf, odf)
            if errs:
                self.fail(key, "; ".join(errs[:3]))
        duck.close()
        return spent

    def run_key(self, key: str, group: str | None) -> tuple[float, float, dict | None]:
        """Build and execute one key: (build_s, exec_s, key span)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        fn = self.registry.QUERIES[key]
        obs = Observation("perfbench_rows")

        def save(df):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                "noop"
            ).mode("overwrite").save()

        if group is None:
            t0 = time.perf_counter()
            df = fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            save(df)
            t2 = time.perf_counter()
            span = None
        else:
            sc = self.spark.sparkContext
            sc.setJobGroup(f"{group}.build", key)
            with self.tracer.span("key", key=key) as span:
                with self.tracer.span("build"), self.counter.counting() as calls:
                    t0 = time.perf_counter()
                    df = fn(self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                sc.setJobGroup(f"{group}.exec", key)
                with self.tracer.span("exec"):
                    save(df)
                    t2 = time.perf_counter()
            span["py4j_calls"] = calls[0]
        rows = obs.get["rows"]
        if rows != self.rows.get(key):
            self.fail(key, f"{rows} rows, the warm pass had {self.rows.get(key)}")
        return t1 - t0, t2 - t1, span

    def one_pass(self, i: int, traced: bool) -> dict:
        out = {"build_s": 0.0, "exec_s": 0.0, "ops": [], "keys": []}
        if traced:
            out.update(dict.fromkeys(TRACED_SUMS, 0))
            snap = probes.scratch_snapshot(self.scratch)
        for key in W.key_order(self.keys, self.rng):
            self.attempted += 1
            group = f"pb{i}.{key}" if traced else None
            try:
                b, e, span = self.run_key(key, group)
            except Exception as err:  # noqa: BLE001 - a failing key is a result
                self.fail(key, f"{type(err).__name__}: {err}")
                continue
            out["build_s"] += b
            out["exec_s"] += e
            out["ops"].append(b + e)
            out["keys"].append((key, b, e))
            if traced:
                self.account(out, span, group, b + e)
                after = probes.scratch_snapshot(self.scratch)
                out["output_mb"] += probes.scratch_delta(snap, after)["output_mb"]
                snap = after
            self.spark.catalog.clearCache()
        out["wall_s"] = out["build_s"] + out["exec_s"]
        if traced:
            left = probes.scratch_delta({}, snap)
            out["scratch_mb"], out["scratch_files"] = left["scratch_mb"], left["scratch_files"]
        return out

    def account(self, out: dict, span: dict, group: str, key_s: float) -> None:
        """Add one traced key's layer numbers to its pass."""
        out["unaccounted_s"] += (span["end"] - span["start"]) - key_s
        out["py4j"] += span["py4j_calls"]
        build = self.stage_probe.group(f"{group}.build")
        execd = self.stage_probe.group(f"{group}.exec")
        out["builder_jobs"] += build["jobs"]
        for k in SPARK_SUMS:
            out[k] += build[k] + execd[k]
        self.add_listing(out, span)


class CliRun(Run):
    """hh_cli: rounds of CLI commands over a seeded tree."""

    def prepare(self) -> None:
        root = os.path.join(self.work, "tree")
        self.tree = W.Tree(datagen.make_tree(root, self.seed, W.TREE_FANOUT, W.TREE_FILES))
        self.wroot = os.path.join(self.work, "w")
        os.makedirs(self.wroot)
        self.put_src = os.path.join(self.work, "put.bin")
        payload = random.Random(self.seed).randbytes(1024)
        with open(self.put_src, "wb") as fh:
            fh.write(payload)

    def round(self, tag: str):
        return W.cli_round(self.tree, self.rng, self.wroot, self.put_src, 1024, tag)

    def command(self, cmd: W.Command, group: str | None) -> tuple[float, dict | None]:
        out = io.StringIO()
        if group is None:
            t0 = time.perf_counter()
            rc = self.cli.main(cmd.argv, spark=self.spark, out=out)
            dt = time.perf_counter() - t0
            span = None
        else:
            self.spark.sparkContext.setJobGroup(group, cmd.argv[0])
            with self.tracer.span("cmd", argv=cmd.argv, cls=cmd.cls) as span:
                t0 = time.perf_counter()
                rc = self.cli.main(cmd.argv, spark=self.spark, out=out)
                dt = time.perf_counter() - t0
        why = W.check_command(cmd, rc, out.getvalue())
        if why:
            self.fail(" ".join(cmd.argv), why)
        return dt, span

    def warm(self) -> float:
        spent = 0.0
        for cmd in self.round("warm"):
            self.attempted += 1
            spent += self.command(cmd, None)[0]
        return spent

    def one_pass(self, i: int, traced: bool) -> dict:
        out = {"ops": [], "cls": []}
        if traced:
            out.update(dict.fromkeys(TRACED_SUMS, 0))
        for j, cmd in enumerate(self.round(f"r{i}")):
            self.attempted += 1
            group = f"pb{i}.{j}" if traced else None
            try:
                dt, span = self.command(cmd, group)
            except Exception as err:  # noqa: BLE001 - a failing command is a result
                self.fail(" ".join(cmd.argv), f"{type(err).__name__}: {err}")
                continue
            out["ops"].append(dt)
            out["cls"].append(cmd.cls)
            if traced:
                out["unaccounted_s"] += (span["end"] - span["start"]) - dt
                stats = self.stage_probe.group(group)
                for k in SPARK_SUMS:
                    out[k] += stats[k]
                walk_ms = self.add_listing(out, span)
                out["cli_self_ms"] += 1e3 * dt - walk_ms
        out["wall_s"] = sum(out["ops"])
        out["build_s"] = 0.0
        out["exec_s"] = out["wall_s"]
        return out

    @staticmethod
    def by_class(plain: list[dict]) -> dict[str, list[float]]:
        """Latencies in ms of the untraced passes, per command class."""
        by = {W.POINT: [], W.WRITE: [], W.WALK: [], W.FIND: []}
        for p in plain:
            for dt, c in zip(p["ops"], p["cls"]):
                by[c].append(1e3 * dt)
        return by

    def class_latencies(self, plain: list[dict]) -> dict:
        by = self.by_class(plain)
        m = {}
        for c in (W.POINT, W.WRITE, W.WALK):
            m[f"cli.{c}_p50_ms"] = median(by[c])
            m[f"cli.{c}_tail_ms"] = tail(by[c])[1] if by[c] else 0.0
        m["cli.find_p50_ms"] = median(by[W.FIND])
        return m

    def extra_report(self, plain: list[dict]) -> dict:
        return {
            "latency_ms": {
                c: {"p50": median(v), "tail_pct": tail(v)[0], "tail": tail(v)[1], "n": len(v)}
                for c, v in self.by_class(plain).items() if v
            }
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("hadoop_tools_spark/__init__.py", "tools/verify_local.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    cls = CliRun if args.workload == W.CLI_WORKLOAD else QueryRun
    run = cls(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = run.execute()
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
