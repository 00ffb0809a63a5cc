"""End-to-end benchmark of the chart-analytics engine.

    python3 perfbench/run.py --workload daily_chart|query_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. One process, one Spark session at
local[<cpu count>], one client in a closed loop: the next operation starts
only after the previous one returned. After setup the run measures rounds
of operations; round 0 is the cold round, the later ones are warm. Rounds
repeat until the workload's number of rounds has run and --seconds have
passed.

  daily_chart  one operation = examples/daily_pipeline.main() into a fresh
               output directory (ingest -> star schema -> Q1-Q4) over the
               committed raw inbox. The seed is recorded and has no effect.
  query_mix    one round = every query of a fixed stratified list of
               registered queries, once, over the committed fixture
               (perfbench/fixture/sf0.001), in an order the seed permutes.

Every output is checked against the DuckDB oracles outside the timed
windows; a mismatch or an exception counts as a failed operation, and so
does each failed setup step. With --trace 0 the last stdout line carries
the end-to-end metrics; with --trace 1 it carries the per-layer metrics of
a traced pass (perfbench/README.md lists both). A report with the host,
sample counts and, when traced, every span goes to perfbench/.runs/.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import ExitStack, nullcontext, suppress  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
FIXTURE = HERE / "fixture" / "sf0.001"

# query_mix strata: stratum -> registered queries, one run of each per
# round. Sized so that a cold and two warm rounds fit the run budget; the
# median lands in chart/scan and the slowest operation is the build-bound
# iterative query. partitioned_roundtrip_prune and streaming_ingest_songs
# keep the sinks and streaming layers measured here too.
QUERY_MIX = {
    "chart": ["q3_top_artist_presence", "q4_song_movement_sql", "partitioned_roundtrip_prune"],
    "scan": ["pricing_summary", "tpch_q6_forecast_revenue"],
    "iterative": ["pagerank_trade_graph"],
    "corpus": ["dedup_exact_content"],
    "stream": ["streaming_ingest_songs"],
}
# query_mix warm-up: the session's first Spark job and codegen, which would
# otherwise land on whichever query the seed puts first
WARMUPS = ["count_star"]
DAILY_QUERIES = (
    "q1_top_trending",
    "q2_album_popularity",
    "q3_top_artist_presence",
    "q4_song_movement",
)
# rounds per run, the cold round included: 48 runs of both workloads must
# fit in an hour on a 4-vCPU host whose neighbours at times steal a quarter
# of its CPU
ROUNDS = {"daily_chart": 3, "query_mix": 3}


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (the noise a shared host adds to every timing)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


STEAL_AT_START = cpu_steal_s()


def tree_cpu_s() -> float:
    """User + system CPU time used so far by this process and every live
    descendant (the Spark JVM, its Python workers), reaped children
    included. Unlike wall time it does not grow when the hypervisor
    steals the host's CPUs."""
    parent, used = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(d)] = int(f[1])
        used[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        tree.update(kids)
        frontier = kids
    return sum(used.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def prepare_env(work: Path) -> None:
    """Process environment for the Spark JVM and its Python workers, set
    before pyspark is imported: all scratch inside the work directory,
    the repo root importable by the workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "local")
    # a fixed 2 GiB heap: ample for the fixtures, and it keeps peak_rss_mb
    # from following the host's free memory
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_JAVA_EXTRA"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [str(ROOT), str(ROOT / "examples")]


def redirect_engine_scratch(work: Path) -> None:
    """The engine roots its stream scratch (run_scratch, chunk feeds) at a
    fixed /tmp path; point it into the benchmark's work directory."""
    from data_engineering_spotify_etl_airflow_aws_spark.streaming import chunks

    chunks._CHUNK_ROOT = work / "engine_scratch"


class Oracles:
    """DuckDB oracle results, computed once per process (their time is
    the benchmark's own cost, reported apart from every metric)."""

    def __init__(self):
        self._rows: dict[str, tuple[list, list]] = {}
        self._con = None
        self.seconds = 0.0

    def rows(self, name: str) -> tuple[list, list]:
        if name not in self._rows:
            t0 = time.perf_counter()
            if self._con is None:
                from tests.conftest import make_duckdb

                self._con = make_duckdb(str(FIXTURE))
            from data_engineering_spotify_etl_airflow_aws_spark import registry

            rel = self._con.execute(registry.ORACLES[name])
            self._rows[name] = ([d[0] for d in rel.description], rel.fetchall())
            self.seconds += time.perf_counter() - t0
        return self._rows[name]


def _multiset(cols, rows):
    from tests.test_oracle_parity import rows_to_multiset

    return rows_to_multiset(list(cols), [tuple(r) for r in rows])


def check_query(oracles: Oracles, name: str, cols, rows) -> str | None:
    """None when the collected rows match the query's oracle, else why
    not (same comparison as the oracle-parity tests)."""
    from tests.test_oracle_parity import MAY_BE_EMPTY

    ecols, erows = oracles.rows(name)
    if sorted(cols) != sorted(ecols):
        return f"columns {sorted(cols)} != oracle {sorted(ecols)}"
    if len(rows) != len(erows):
        return f"{len(rows)} rows != oracle {len(erows)}"
    if not rows and name not in MAY_BE_EMPTY:
        return "empty result"
    if _multiset(cols, rows) != _multiset(ecols, erows):
        return "values differ from oracle"
    return None


def _typed_like(ecols, erows, cols, text_rows):
    """Parse CSV text back into the oracle's Python types, column by
    column (dates stay text: the comparison normalizes them to ISO)."""
    kinds = {}
    for i, c in enumerate(ecols):
        sample = next((r[i] for r in erows if r[i] is not None), None)
        kinds[c] = type(sample) if type(sample) in (int, float) else str
    parse = {
        int: int,
        float: float,
        str: lambda t: t,
    }
    return [
        tuple(None if v is None else parse[kinds.get(c, str)](v) for c, v in zip(cols, r))
        for r in text_rows
    ]


def check_daily(oracles: Oracles, out: Path, result: dict) -> str | None:
    """None when every table main() wrote, and every count it returned,
    matches the star_* and q* oracles."""
    import duckdb

    def expect(name):
        return oracles.rows(name)

    songs_cols, songs_rows = expect("star_songs_fact")
    if result.get("songs_ingested") != len(songs_rows):
        return f"ingested {result.get('songs_ingested')} != {len(songs_rows)}"
    con = duckdb.connect()
    try:
        rel = con.execute(
            f"SELECT * FROM read_parquet('{out}/warehouse/songs/*/*.parquet', "
            "hive_partitioning=true)"
        )
        cols = [d[0] for d in rel.description]
        if sorted(cols) != sorted(songs_cols) or _multiset(
            cols, rel.fetchall()
        ) != _multiset(songs_cols, songs_rows):
            return "warehouse/songs differs from star_songs_fact"
        csv_outputs = [
            ("warehouse/album", "star_album_dim"),
            ("warehouse/artist", "star_artist_dim"),
        ] + [(f"analytics/{q}", q) for q in DAILY_QUERIES]
        for sub, oracle in csv_outputs:
            ecols, erows = expect(oracle)
            rel = con.execute(
                f"SELECT * FROM read_csv('{out}/{sub}/*.csv', header=true, "
                "all_varchar=true)"
            )
            cols = [d[0] for d in rel.description]
            rows = _typed_like(ecols, erows, cols, rel.fetchall())
            if sorted(cols) != sorted(ecols) or _multiset(cols, rows) != _multiset(
                ecols, erows
            ):
                return f"{sub} differs from {oracle}"
            if sub.startswith("analytics/") and result.get(oracle) != len(erows):
                return f"{oracle} returned {result.get(oracle)} rows != {len(erows)}"
    finally:
        con.close()
    return None


class Bench:
    """One benchmark process: setup, measured rounds, checks, teardown."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = HERE / ".work" / f"run-{os.getpid()}"
        self.spark = None
        self.tracer = None
        self.oracles = Oracles()
        self.setup_times: dict[str, float] = {}
        self.setup_steps = 0
        self.setup_failures: list[str] = []
        self.ops: list[dict] = []
        self.round_rss_mb: list[float] = []
        self.release_s = 0.0
        self._analyze_stack: ExitStack | None = None

    # -- setup --------------------------------------------------------
    def setup(self) -> None:
        """Process start to ready, timed by phase: engine import, session
        start (JVM launch), operator loading and the warm-up; and the CPU
        time the process tree used until then."""
        # pyspark reads the JVM's environment when imported
        prepare_env(self.work)
        global registry, caches
        import data_engineering_spotify_etl_airflow_aws_spark as engine
        from data_engineering_spotify_etl_airflow_aws_spark import caches, registry
        from data_engineering_spotify_etl_airflow_aws_spark.session import get_spark

        t1 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        t2 = time.perf_counter()
        engine.load_all_operators()
        redirect_engine_scratch(self.work)
        if self.workload == "query_mix":
            self._warm_up()
        t3 = time.perf_counter()
        self.setup_times = {
            "total_s": t3 - PROCESS_START, "import_s": t1 - PROCESS_START,
            "start_s": t2 - t1, "warmup_s": t3 - t2, "cpu_s": tree_cpu_s(),
        }

    def _setup_step(self, label: str, call) -> None:
        self.setup_steps += 1
        try:
            call()
        except Exception as exc:
            self.setup_failures.append(label)
            log(f"setup step {label} failed: {type(exc).__name__}: {exc}"[:400])

    def _warm_up(self) -> None:
        for name in WARMUPS:
            self._setup_step(
                f"warmup {name}",
                lambda n=name: registry.QUERIES[n](self.spark, str(FIXTURE)).collect(),
            )
        self.spark.catalog.clearCache()

    # -- tracing hooks -------------------------------------------------
    def _span(self, name: str, layer: str, **attrs):
        if self.tracer is None:
            return nullcontext(None)
        return self.tracer.span(name, layer, **attrs)

    def _install_layer_wrappers(self) -> None:
        """Wrap the layer functions main() and the registry builders call
        at call time (module attributes), so each call is a span."""
        from data_engineering_spotify_etl_airflow_aws_spark import sinks
        from data_engineering_spotify_etl_airflow_aws_spark.pipeline import transforms
        from data_engineering_spotify_etl_airflow_aws_spark.streaming import ingest

        def wrap(mod, attr, layer, label, after=None, **attrs):
            inner = getattr(mod, attr)

            def traced(*args, **kwargs):
                with self.tracer.span(label(args), layer, **attrs) as rec:
                    out = inner(*args, **kwargs)
                    if layer == "sinks":
                        rec["path"] = str(args[1])
                    if layer == "operators":
                        rec["_df"] = out
                if after is not None:
                    after(args)
                return out

            setattr(mod, attr, traced)

        def open_analyze(args):
            # main() writes the artist dim last; the rest of it is analyze
            if self._analyze_stack is not None and Path(str(args[1])).name == "artist":
                self._analyze_stack.enter_context(
                    self.tracer.span("analyze", "pipeline", role="action", stratum="chart")
                )

        wrap(ingest, "ingest_songs_available_now", "streaming", lambda a: "ingest")
        wrap(sinks, "write_partitioned", "sinks", lambda a: f"write {Path(str(a[1])).name}")
        wrap(
            sinks, "write_table_csv", "sinks",
            lambda a: f"write {Path(str(a[1])).name}", after=open_analyze,
        )
        for q in DAILY_QUERIES:
            wrap(
                transforms, q, "operators", lambda a, q=q: f"build {q}",
                role="build", stratum="chart",
            )

    # -- operations ------------------------------------------------------
    def _release(self, out: Path | None = None) -> None:
        """Cleanup after each operation, outside the timed windows."""
        t0 = time.perf_counter()
        self.spark.catalog.clearCache()
        caches.release_all()
        if out is not None:
            shutil.rmtree(out, ignore_errors=True)
        self.release_s += time.perf_counter() - t0

    def _drain(self) -> None:
        """Before each round, outside the timed windows: a JVM GC and
        bench.py's wait for the shuffle cleaner, so every round starts
        from a collected heap and an empty shuffle directory."""
        from bench import _drain_shuffle_cleanup

        t0 = time.perf_counter()
        gc.collect()
        _drain_shuffle_cleanup(self.spark)
        self.release_s += time.perf_counter() - t0

    def _after_op(self, rec: dict, op_span, before: set | None) -> None:
        if self.tracer is None:
            return
        from spans import persisted_rdd_ids

        rec["persisted_rdds"] = len(persisted_rdd_ids(self.spark) - before)
        self.tracer.settle(op_span["id"])
        for s in self.tracer.spans:
            if s["op"] != op_span["id"]:
                continue
            df = s.pop("_df", None)
            if df is not None:
                s["catalyst_s"] = _catalyst_s(df)
            if "path" in s:
                s.update(_written(Path(s["path"])))
        op_span["persisted_rdds"] = rec["persisted_rdds"]

    def _before_op(self) -> set | None:
        if self.tracer is None:
            return None
        from spans import persisted_rdd_ids

        return persisted_rdd_ids(self.spark)

    def query_op(self, name: str, stratum: str, rnd: int) -> None:
        rec = {"name": name, "stratum": stratum, "round": rnd, "ok": False}
        before = self._before_op()
        rows = cols = None
        c0 = tree_cpu_s()
        with self._span(name, "op", stratum=stratum, round=rnd) as op_span:
            t0 = time.perf_counter()
            try:
                with self._span(f"build {name}", "operators", role="build", stratum=stratum) as b:
                    df = registry.QUERIES[name](self.spark, str(FIXTURE))
                    if b is not None:
                        b["_df"] = df
                t1 = time.perf_counter()
                with self._span(f"collect {name}", "operators", role="action", stratum=stratum):
                    rows = df.collect()
                t2 = time.perf_counter()
                rec.update(latency_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1)
                rec["cpu_s"] = tree_cpu_s() - c0
                cols = df.columns
            except Exception as exc:
                rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
        if rows is not None:
            problem = check_query(self.oracles, name, cols, rows)
            rec["ok"] = problem is None
            if problem:
                rec["error"] = problem
        if op_span is not None:
            self._after_op(rec, op_span, before)
        self.ops.append(rec)
        self._release()

    def daily_op(self, rnd: int) -> None:
        import daily_pipeline

        out = self.work / "daily" / f"round{rnd}"
        rec = {"name": "daily_pipeline.main", "stratum": "daily", "round": rnd, "ok": False}
        before = self._before_op()
        result = None
        c0 = tree_cpu_s()
        with ExitStack() as stack:
            op_span = stack.enter_context(self._span("daily_pipeline.main", "op", round=rnd))
            self._analyze_stack = stack
            t0 = time.perf_counter()
            try:
                result = daily_pipeline.main(self.spark, str(out))
                rec["latency_s"] = time.perf_counter() - t0
                rec["cpu_s"] = tree_cpu_s() - c0
            except Exception as exc:
                rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
            finally:
                self._analyze_stack = None
        if result is not None:
            problem = check_daily(self.oracles, out, result)
            rec["ok"] = problem is None
            if problem:
                rec["error"] = problem
        if op_span is not None:
            self._after_op(rec, op_span, before)
        self.ops.append(rec)
        self._release(out)

    def run_round(self, rnd: int, rng: random.Random) -> None:
        """One round; the JVM's peak resident memory is measured over it
        (the high-water mark is reset when the round starts)."""
        self._drain()
        self.jvm_rss.reset_peak()
        if self.workload == "daily_chart":
            self.daily_op(rnd)
        else:
            mix = [(q, s) for s, qs in QUERY_MIX.items() for q in qs]
            for name, stratum in rng.sample(mix, len(mix)):
                self.query_op(name, stratum, rnd)
        self.round_rss_mb.append(self.jvm_rss.peak_mb())

    # -- the whole run ---------------------------------------------------
    def run(self) -> dict:
        self.setup()
        self.jvm_rss = JvmRss(self.spark)
        setup_rss_mb = self.jvm_rss.peak_mb()
        if self.traced:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            self._install_layer_wrappers()
        rng = random.Random(self.seed)
        window_start = time.perf_counter()
        rnd = 0
        while rnd < ROUNDS[self.workload] or time.perf_counter() - window_start < self.seconds:
            self.run_round(rnd, rng)
            rnd += 1
        window_s = time.perf_counter() - window_start
        jvm = {}
        if self.tracer is not None:
            from spans import jvm_stats

            jvm = jvm_stats(self.spark)
            self.tracer.close()
        return {
            "window_s": window_s, "rounds": rnd, "jvm": jvm,
            "run_rss_mb": max([setup_rss_mb] + self.round_rss_mb),
        }

    def shutdown(self) -> None:
        """Stop the session and the JVM it launched, wait for it, then
        remove the work directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()
                    proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)
        with suppress(OSError):  # other runs may still be using it
            self.work.parent.rmdir()


def _catalyst_s(df) -> float:
    """Analysis + optimization + planning time recorded by the returned
    plan's QueryExecution tracker (the phases that have run so far)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    total_ms = 0
    while it.hasNext():
        kv = it.next()
        if kv._1() in ("analysis", "optimization", "planning"):
            total_ms += kv._2().durationMs()
    return total_ms / 1e3


def _written(path: Path) -> dict:
    files = [p for p in path.rglob("*") if p.is_file() and p.name.startswith("part-")]
    return {
        "files_written": len(files),
        "written_mb": sum(p.stat().st_size for p in files) / 2**20,
        "partitions_written": len({p.parent for p in files if "=" in p.parent.name}),
    }


class JvmRss:
    """The Spark JVM's peak resident memory (VmHWM in /proc/<pid>/status,
    the pid from ProcessHandle), with a high-water mark that can be reset
    to the current resident size (Linux 4.0+, /proc/<pid>/clear_refs)."""

    def __init__(self, spark):
        self.pid = spark.sparkContext._jvm.ProcessHandle.current().pid()

    def reset_peak(self) -> None:
        with open(f"/proc/{self.pid}/clear_refs", "w") as fh:
            fh.write("5")

    def peak_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError(f"no VmHWM for JVM pid {self.pid}")


# -- metrics ---------------------------------------------------------------
def round_stats(bench: Bench, key: str) -> dict:
    """One per-operation figure, in seconds: summed over the cold round;
    summed over the warm rounds and divided by their number; and the median
    warm operation. Each as (value, unit, sample count). A warm round is a
    mean, not a median: JIT and GC work left over from earlier rounds
    shifts between warm rounds, and only their total is steady."""
    cold = [op[key] for op in bench.ops if op["round"] == 0 and key in op]
    warm = [op[key] for op in bench.ops if op["round"] > 0 and key in op]
    warm_rounds = len({op["round"] for op in bench.ops if op["round"] > 0})
    return {
        "cold": (sum(cold), "s", len(cold)),
        "warm": (sum(warm) / warm_rounds, "s", len(warm)),
        "op_p50": (statistics.median(warm), "s", len(warm)),
    }


def end_to_end(bench: Bench, summary: dict) -> dict:
    cpu = round_stats(bench, "cpu_s")
    return {
        "setup_s": (bench.setup_times["cpu_s"], "s", 1),
        "cold_cpu_s": cpu["cold"],
        "warm_cpu_s": cpu["warm"],
        "peak_rss_mb": (
            statistics.mean(bench.round_rss_mb), "MB", len(bench.round_rss_mb)
        ),
    }


def client_figures(bench: Bench, summary: dict) -> dict:
    """Unbounded companions of the end-to-end metrics: setup and the
    rounds in wall time, the median warm operation, the whole run's memory
    peak."""
    wall = round_stats(bench, "latency_s")
    cpu = round_stats(bench, "cpu_s")
    return {
        "client.setup_s": (bench.setup_times["total_s"], "s", 1),
        "client.cold_s": wall["cold"],
        "client.warm_s": wall["warm"],
        "client.op_p50_s": wall["op_p50"],
        "client.op_p50_cpu_s": cpu["op_p50"],
        "client.run_peak_rss_mb": (summary["run_rss_mb"], "MB", 1),
    }


def per_layer(bench: Bench, summary: dict) -> dict:
    spans = bench.tracer.spans
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    setup = bench.setup_times
    m: dict[str, tuple[float, str]] = {
        "session.import_s": (setup["import_s"], "s"),
        "session.start_s": (setup["start_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "session.jvm_gc_s": (summary["jvm"]["jvm_gc_s"], "s"),
        "session.jvm_heap_peak_mb": (summary["jvm"]["jvm_heap_peak_mb"], "MB"),
    }
    build = [s for s in spans if s.get("role") == "build"]
    action = [s for s in spans if s.get("role") == "action"]
    ops = {s["id"]: s for s in spans if s["layer"] == "op"}
    # builders nested in an action span (main()'s analyze) are not action time
    nested_build = sum(dur(b) for b in build if b["parent"] in {a["id"] for a in action})
    m["operators.build_s"] = (sum(dur(s) for s in build), "s")
    m["operators.build_jobs"] = (sum(s["jobs"] for s in build), "count")
    m["operators.action_s"] = (sum(dur(s) for s in action) - nested_build, "s")
    m["operators.action_jobs"] = (sum(s["jobs"] for s in action), "count")
    m["operators.catalyst_s"] = (sum(s.get("catalyst_s", 0.0) for s in build), "s")
    units = {"tasks": "count", "failed_tasks": "count", "executor_run_s": "s",
             "executor_cpu_s": "s", "executor_gc_s": "s", "shuffle_write_mb": "MB",
             "shuffle_read_mb": "MB", "spill_mb": "MB"}
    for k, unit in units.items():
        m[f"operators.{k}"] = (sum(s["stages"][k] for s in build + action), unit)
    for st in QUERY_MIX:
        m[f"operators.{st}.build_jobs"] = (
            sum(s["jobs"] for s in build if s.get("stratum") == st), "count")
        m[f"operators.{st}.action_jobs"] = (
            sum(s["jobs"] for s in action if s.get("stratum") == st), "count")
    m["tables.persisted_rdds"] = (sum(o.get("persisted_rdds", 0) for o in ops.values()), "count")
    m["caches.release_s"] = (bench.release_s, "s")
    ingest = [s for s in spans if s["layer"] == "streaming"]
    m["streaming.ingest_s"] = (sum(dur(s) for s in ingest), "s")
    m["streaming.jobs"] = (sum(s["stream_jobs"] for s in spans), "count")
    for k, unit in (("batches", "count"), ("input_rows", "count"),
                    ("latest_offset_ms", "ms"), ("add_batch_ms", "ms"),
                    ("wal_commit_ms", "ms"), ("commit_offsets_ms", "ms")):
        m[f"streaming.{k}"] = (sum(s["stream"].get(k, 0) for s in spans), unit)
    sink = [s for s in spans if s["layer"] == "sinks"]
    m["sinks.write_s"] = (sum(dur(s) for s in sink), "s")
    m["sinks.jobs"] = (sum(s["jobs"] for s in sink), "count")
    for k, unit in (("files_written", "count"), ("written_mb", "MB"),
                    ("partitions_written", "count")):
        m[f"sinks.{k}"] = (sum(s.get(k, 0) for s in sink), unit)
    # analyze: main()'s Q1-Q4 stage (daily_chart), or the Q1-Q4 operations
    # in either form (query_mix)
    analyze = [s for s in spans if s["layer"] == "pipeline"]
    q_ops = [o for o in ops.values() if o["name"].startswith(("q1_", "q2_", "q3_", "q4_"))]
    m["pipeline.analyze_s"] = (sum(dur(s) for s in analyze + q_ops), "s")
    analyze_ids = {s["id"] for s in analyze} | {o["id"] for o in q_ops}
    m["pipeline.analyze_jobs"] = (
        sum(s["jobs"] for s in spans if s["id"] in analyze_ids or s["parent"] in analyze_ids),
        "count",
    )
    return {**client_figures(bench, summary), **{k: (v, u, None) for k, (v, u) in m.items()}}


def host_record(bench: Bench) -> dict:
    import duckdb
    import pyspark

    from data_engineering_spotify_etl_airflow_aws_spark.session import _cgroup_limit_bytes

    def meminfo_mb():
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
        return None

    local_dir = bench.spark.conf.get("spark.local.dir")
    best, fs = "", None  # the file system of the longest mount prefix
    with open("/proc/mounts") as fh:
        for line in fh:
            _dev, mnt, fstype = line.split()[:3]
            if local_dir.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, fstype
    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    limit = _cgroup_limit_bytes()
    digest = hashlib.md5()
    for p in sorted(FIXTURE.glob("*.parquet")):
        digest.update(p.name.encode() + p.read_bytes())
    return {
        "workload": bench.workload,
        "seed": bench.seed,
        "seed_has_effect": bench.workload != "daily_chart",
        "seconds": bench.seconds,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": meminfo_mb(),
        "cgroup_limit_mb": None if limit is None else limit // 2**20,
        "spark_local_dir": local_dir,
        "spark_local_dir_fs": fs,
        "driver_memory": bench.spark.conf.get("spark.driver.memory", None),
        "master": bench.spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": bench.spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
        "fixture_md5": digest.hexdigest(),
        "cpu_steal_s": cpu_steal_s() - STEAL_AT_START,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROUNDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Spark and the engine write to fd 1 too; keep it for the result line
    result_fd = os.dup(1)
    os.dup2(2, 1)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        summary = bench.run()
        host = host_record(bench)
        metrics = per_layer(bench, summary) if bench.tracer else end_to_end(bench, summary)
        e2e_traced = end_to_end(bench, summary) if bench.tracer else None
    except Exception:
        traceback.print_exc()
        bench.shutdown()
        return 1
    bench.shutdown()

    failed_ops = [o for o in bench.ops if not o["ok"]]
    attempted = len(bench.ops) + bench.setup_steps
    failed = len(failed_ops) + len(bench.setup_failures)
    for o in failed_ops:
        log(f"FAILED {o['name']} (round {o['round']}): {o.get('error')}")
    for step in bench.setup_failures:
        log(f"FAILED setup step {step}")
    log(f"host {json.dumps(host)}")
    log(
        f"{args.workload}: {summary['rounds']} rounds, {len(bench.ops)} operations "
        f"in {summary['window_s']:.1f} s; oracle runs {bench.oracles.seconds:.2f} s "
        f"(benchmark's own cost); failed {failed}/{attempted}"
    )
    for name, (value, unit, n) in metrics.items():
        log(f"  {name:36s} {value:12.4f} {unit:6s}" + (f" n={n}" if n else ""))
    if e2e_traced:
        log("traced pass, end-to-end figures (compare with untraced runs "
            "for the tracing overhead):")
        for name, (value, unit, n) in e2e_traced.items():
            log(f"  {name:36s} {value:12.4f} {unit:6s} n={n}")
    else:
        for name, (value, unit, n) in client_figures(bench, summary).items():
            log(f"  {name:36s} {value:12.4f} {unit:6s} n={n}")

    report = {
        "host": host,
        "summary": summary,
        "setup": bench.setup_times,
        "round_rss_mb": bench.round_rss_mb,
        "ops": bench.ops,
        "metrics": {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in metrics.items()},
        "traced_end_to_end": e2e_traced and {k: v[0] for k, v in e2e_traced.items()},
        "setup_failures": bench.setup_failures,
    }
    runs = HERE / ".runs"
    runs.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (runs / f"{stem}.json").write_text(json.dumps(report, indent=1, default=str) + "\n")
    if bench.tracer:
        bench.tracer.write(runs / f"{stem}-spans.json")

    line = json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()},
    })
    os.write(result_fd, (line + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
