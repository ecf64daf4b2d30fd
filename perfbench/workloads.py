"""The three benchmark workloads and the metrics they report.

Every workload is one process, one closed-loop client and one Spark
session on ``local[<cores>]``. The client runs an op, waits for it, and
only then starts the next; the only other threads are the ones the
engine starts itself.

- ``star_analytics``: the analyst read path. Twelve gold-layer queries
  (star joins over the SCD dimensions, TPC-H shapes, SCD2 as-of
  lookups) whose time is mostly Spark execution.
- ``curation_build``: the LLM-curation operator tier, represented by
  ``pagerank_central_docs`` (SimHash near-dup graph, PageRank, and its
  certificate), which spends over 90% of its time building the
  DataFrame on the driver (Python, py4j and eager jobs) while the
  executors idle. One op per pass keeps a run inside the time budget.
- ``medallion_cdc``: the write path. Seeded change batches go bronze ->
  silver -> gold (SCD2 ``dim_customer``, SCD1 ``fact_orders``) through
  ``plans.pipeline.Pipeline``.
"""

from __future__ import annotations

import os
import random
import resource
import statistics
import time
from dataclasses import dataclass, field

import datagen
import verify
from spans import Tracer, jobs_within, read_event_log, uncovered

STAR_OPS = (
    "star_join", "star_join_wide", "star_join_agg",
    "pricing_summary", "rollup_agg", "topk_per_group",
    "tpch_q3", "tpch_q5", "tpch_q18",
    "scd2_incremental", "scd2_asof_lookup", "star_join_asof",
)
CURATION_OPS = ("pagerank_central_docs",)

#: Scale factor of the generated catalog, per workload.
SCALE = {"star_analytics": 0.1, "curation_build": 0.01, "medallion_cdc": 0.01}

#: Session bring-ups per run (the first launches the JVM). setup_s is
#: their median plus the priming pass; setup_cpu_s is the CPU seconds of
#: all of them plus the priming pass (input generation and oracle checks
#: excluded).
SESSION_BRINGUPS = 3

#: Op cost is gated in CPU seconds of the whole process tree (driver
#: Python, JVM, Python workers): on a shared 4-core VM, hypervisor steal
#: of 0-23% moved wall-clock op times by about 30% (IQR over median of
#: ten runs) and CPU seconds by 8-15%. Wall-clock latency is reported
#: per layer, from the untraced passes of a traced run.
END_TO_END_UNITS = {"setup_s": "s", "setup_cpu_s": "s", "op_cpu_s": "s"}
PER_LAYER_UNITS = {
    "wall_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "catalog.register_all_s": "s",
    "setup.prime_s": "s",
    "entry.build_s": "s",
    "entry.build_py4j_calls": "count",
    "entry.build_jobs": "count",
    "operators.graph.pagerank_s": "s",
    "operators.similarity.kmeans_centroids_s": "s",
    "operators.dedup.simhash_fingerprints_s": "s",
    "plans.star_query.build_star_dataframe_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.driver_gap_s": "s",
    "sources.incremental_extract_s": "s",
    "sources.rows_extracted": "count",
    "sources.bytes_written": "bytes",
    "streaming.silver_s": "s",
    "streaming.silver_bytes_written": "bytes",
    "streaming.checkpoint_bytes": "bytes",
    "streaming.gold_s": "s",
    "streaming.gold_merge_s": "s",
    "streaming.gold_overwrite_s": "s",
    "streaming.gold_bytes_written": "bytes",
    "streaming.gold_write_amp": "ratio",
    "bytes_written_per_change_byte": "ratio",
    "cache.fills_in_timed_ops": "count",
    "trace.overhead_frac": "ratio",
    "host.steal_pct": "%",
    "host.load_1m": "load",
}


# -- host noise ----------------------------------------------------------

def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def _load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every descendant: the JVM and Spark's Python workers."""
    hz = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    mine, frontier = set(), {os.getpid()}
    while frontier:
        mine |= frontier
        frontier = {p for p, (ppid, _) in stats.items() if ppid in frontier} - mine
    return sum(stats[p][1] for p in mine if p in stats) / hz


class HostWindow:
    """Steal share of CPU time, 1-minute load and the process tree's CPU
    seconds over an interval."""

    def __init__(self) -> None:
        self.ticks = _cpu_ticks()
        self.load = _load_1m()
        self.cpu = tree_cpu_s()

    def close(self) -> dict[str, float]:
        total, steal = _cpu_ticks()
        d_total = total - self.ticks[0]
        d_steal = steal - self.ticks[1]
        return {
            "steal_pct": 100.0 * d_steal / d_total if d_total else 0.0,
            "load_1m": max(self.load, _load_1m()),
            "cpu_s": tree_cpu_s() - self.cpu,
        }


# -- environment ---------------------------------------------------------

@dataclass
class Env:
    root: str
    run_dir: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    scale: float
    tracer: Tracer = field(default_factory=Tracer)
    data_dir: str = ""
    event_dir: str = ""

    def __post_init__(self) -> None:
        self.data_dir = os.path.join(self.run_dir, "data")
        self.event_dir = os.path.join(self.run_dir, "events")


def session_conf(env: Env) -> dict[str, str]:
    """Keep every file Spark writes inside the run directory."""
    local = os.path.join(env.run_dir, "local")
    tmp = os.path.join(env.run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(env.run_dir, "warehouse"),
        "spark.local.dir": local,
        # get_spark's code-cache flags, plus the metastore and temp homes;
        # no hsperfdata file, which the JVM would otherwise put in /tmp
        "spark.driver.extraJavaOptions": (
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(env.run_dir, 'derby')} "
            f"-Djava.io.tmpdir={tmp}"
        ),
    }
    if env.trace:
        os.makedirs(env.event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + env.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def bring_up(env: Env):
    """Start the session SESSION_BRINGUPS times (stopping the previous
    one), registering the catalog each time. Returns the last session
    and the (get_spark, register_all) seconds of every bring-up."""
    from dataeng_azure_spotify_spark.catalog import Catalog
    from dataeng_azure_spotify_spark.session import get_spark

    times = []
    spark = None
    for _ in range(SESSION_BRINGUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{env.workload}", extra_conf=session_conf(env))
        t1 = time.perf_counter()
        Catalog(spark, env.data_dir).register_all()
        times.append((t1 - t0, time.perf_counter() - t1))
    return spark, times


def _cache_dirs(root: str) -> set[tuple[str, str]]:
    """Entries of the fit-once artifact caches kept next to the entry
    module (``.ivf_cache``, ``.nb_cache``, ...)."""
    out = set()
    for d in os.listdir(root):
        if d.startswith(".") and d.endswith("_cache") and os.path.isdir(os.path.join(root, d)):
            out.update((d, e) for e in os.listdir(os.path.join(root, d)))
    return out


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# -- op records ----------------------------------------------------------

@dataclass
class Op:
    name: str
    pass_no: int
    seconds: float
    rows: int
    ok: bool
    traced: bool
    cache_fill: bool
    host: dict[str, float]


@dataclass
class Result:
    setup_s: float
    setup_cpu_s: float
    prime_s: float
    session_times: list[tuple[float, float]]
    ops: list[Op]
    passes: list[tuple[float, bool]]  # (seconds, traced)
    rss_mb: float
    problems: list[str]
    layers: dict[str, float] = field(default_factory=dict)

    def timed(self, traced: bool = False) -> list[Op]:
        return [o for o in self.ops if o.traced == traced]


# -- read workloads ------------------------------------------------------

def run_queries(env: Env, op_names: tuple[str, ...]) -> Result:
    import __spark_entry__ as entry

    datagen.write_catalog(env.data_dir, env.scale, env.seed)
    cpu0 = tree_cpu_s()
    spark, session_times = bring_up(env)
    setup_cpu_s = tree_cpu_s() - cpu0
    queries, oracles = entry.queries(), entry.oracle_sql()
    tracer = env.tracer

    # priming pass, verified against the DuckDB oracles (untimed)
    problems: list[str] = []
    expected: dict[str, int] = {}
    con = verify.duckdb_catalog(env.data_dir)
    prime_s = 0.0
    for name in op_names:
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        pdf = queries[name](spark, env.data_dir).toPandas()
        prime_s += time.perf_counter() - t0
        setup_cpu_s += tree_cpu_s() - cpu0
        expected[name] = len(pdf)
        problem = verify.verify_query(pdf, oracles[name], con)
        if problem:
            problems.append(f"{name}: {problem}")
    con.close()
    bad = {p.split(":")[0] for p in problems}

    rng = random.Random(env.seed)
    pass_no = 0
    ops: list[Op] = []

    def one_pass(traced: bool) -> float:
        nonlocal pass_no
        order = list(op_names)
        rng.shuffle(order)
        if traced:
            tracer.install()
        t_pass = time.perf_counter()
        for name in order:
            caches = _cache_dirs(env.root)
            host = HostWindow()
            rows, ok = -1, False
            t0 = time.perf_counter()
            try:
                with tracer.span("op", op_id=len(ops)):
                    with tracer.span("entry.build"):
                        df = queries[name](spark, env.data_dir)
                    with tracer.span("exec.action"):
                        rows = df.count()
                ok = rows == expected[name] and name not in bad
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                problems.append(f"{name} pass {pass_no}: {type(e).__name__}: {e}")
            dt = time.perf_counter() - t0
            stats = host.close()
            ops.append(Op(name, pass_no, dt, rows, ok, traced,
                          _cache_dirs(env.root) != caches, stats))
        dt_pass = time.perf_counter() - t_pass
        if traced:
            tracer.uninstall()
        pass_no += 1
        return dt_pass

    passes = measure(env, one_pass)
    rss = peak_rss_mb(spark)
    setup_s = statistics.median(a + b for a, b in session_times) + prime_s
    res = Result(setup_s, setup_cpu_s, prime_s, session_times, ops, passes, rss, problems)
    spark.stop()
    if env.trace:
        res.layers = query_layers(env, res)
    return res


def measure(env: Env, one_pass) -> list[tuple[float, bool]]:
    """Run whole passes until ``env.seconds`` have elapsed. A traced run
    alternates untraced and traced passes, starting and ending untraced,
    so the tracing overhead is measured against passes from the same
    process on both sides of each traced one (cancelling warm-up drift)."""
    passes: list[tuple[float, bool]] = []
    t0 = time.perf_counter()
    traced = False
    while True:
        passes.append((one_pass(traced), traced))
        done = time.perf_counter() - t0 >= env.seconds
        if done and not traced and (not env.trace or len(passes) > 1):
            return passes
        traced = env.trace and not traced


# -- medallion workload --------------------------------------------------

@dataclass
class Flow:
    name: str
    feed: datagen.ChangeFeed
    key: str
    scd_type: int


class Medallion:
    """Directories, flows and the per-cycle pipeline of the write path."""

    def __init__(self, spark, env: Env) -> None:
        from dataeng_azure_spotify_spark.sources.watermark import WatermarkStore
        from dataeng_azure_spotify_spark.streaming.gold import CdcFlow

        self.spark = spark
        self.base = os.path.join(env.run_dir, "medallion")
        feeds = {f.name: f for f in datagen.medallion_feeds(env.scale, env.seed)}
        self.flows = [
            Flow("dim_customer", feeds["customer"], "c_custkey", 2),
            Flow("fact_orders", feeds["orders"], "o_orderkey", 1),
        ]
        self.n_customers = feeds["customer"].keys
        self.store = WatermarkStore(self._p("wm"))
        self.cdc = {
            f.name: CdcFlow(
                name=f.name, gold_base=self._p("gold", f.name), keys=[f.key],
                sequence_by="updated_at", scd_type=f.scd_type, backend="parquet",
                source_table=f"silver.{f.feed.name}",
            )
            for f in self.flows
        }
        self.batches: dict[str, list[str]] = {f.name: [] for f in self.flows}
        self.cycle = 0

    def _p(self, *parts: str) -> str:
        return os.path.join(self.base, *parts)

    def write_batches(self) -> tuple[int, int]:
        """Generate this cycle's change batches; (distinct rows, bytes)."""
        rows = size = 0
        for f in self.flows:
            table, distinct = f.feed.batch(self.cycle, self.n_customers)
            d = self._p("src", f.feed.name)
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"batch-{self.cycle:04d}.parquet")
            size += datagen.write_batch(path, table)
            rows += distinct
            self.batches[f.name].append(path)
        return rows, size

    def pipeline(self, tracer: Tracer, extracted: dict[str, int]):
        from dataeng_azure_spotify_spark.plans.pipeline import Pipeline
        from dataeng_azure_spotify_spark.sources.ingest import TableConfig, incremental_extract
        from dataeng_azure_spotify_spark.streaming.rescue import RESCUE_COL, read_bronze_stream
        from dataeng_azure_spotify_spark.streaming.silver import dedup_stream, write_silver_stream

        pipe = Pipeline(name=f"cycle-{self.cycle}")
        for f in self.flows:
            feed = f.feed.name

            def bronze(spark, feed=feed):
                with tracer.span("sources.incremental_extract"):
                    source = spark.read.parquet(self._p("src", feed))
                    res = incremental_extract(spark, source, TableConfig(feed, "updated_at"),
                                              self.store, self._p("bronze"))
                extracted[feed] = res.rows

            def silver(spark, f=f, feed=feed):
                with tracer.span("streaming.silver"):
                    stream = read_bronze_stream(spark, self._p("bronze", feed),
                                                self._p("chk", feed, "schema"))
                    write_silver_stream(
                        dedup_stream(stream.drop(RESCUE_COL), [f.key, "updated_at"]),
                        self._p("silver", feed), self._p("chk", feed, "silver"),
                        table_name=f"silver.{feed}",
                    )

            def gold(spark, f=f, feed=feed):
                with tracer.span("streaming.gold"):
                    self.cdc[f.name].run_from_table(spark, self._p("chk", feed, "gold"))

            pipe.add(f"bronze_{feed}", bronze)
            pipe.add(f"silver_{feed}", silver, depends_on=(f"bronze_{feed}",))
            pipe.add(f"gold_{f.name}", gold, depends_on=(f"silver_{feed}",))
        return pipe

    def verify(self) -> list[str]:
        problems = []
        for f in self.flows:
            gold = self.cdc[f.name].table(self.spark).read()
            files = [u.removeprefix("file://").removeprefix("file:") for u in gold.inputFiles()]
            problem = verify.verify_gold(files, self.batches[f.name], f.key, f.scd_type,
                                         gold.columns)
            if problem:
                problems.append(f"{f.name} cycle {self.cycle}: {problem}")
        return problems

    def snapshot(self) -> dict[str, dict[str, tuple[int, float]]]:
        """{layer: {file: (size, mtime)}} under the write-path directories."""
        out = {}
        for layer in ("bronze", "silver", "gold", "chk"):
            files = {}
            for dirpath, _dirs, names in os.walk(self._p(layer)):
                for n in names:
                    p = os.path.join(dirpath, n)
                    st = os.stat(p)
                    files[p] = (st.st_size, st.st_mtime)
            out[layer] = files
        return out


def written_bytes(before: dict, after: dict) -> dict[str, int]:
    """Bytes of files that are new or changed, per layer."""
    return {
        layer: sum(sz for p, (sz, mt) in files.items() if before[layer].get(p) != (sz, mt))
        for layer, files in after.items()
    }


@dataclass
class Cycle:
    traced: bool
    change_bytes: int
    extracted: int
    written: dict[str, int]


def run_medallion(env: Env) -> Result:
    datagen.write_catalog(env.data_dir, env.scale, env.seed)
    cpu0 = tree_cpu_s()
    spark, session_times = bring_up(env)
    setup_cpu_s = tree_cpu_s() - cpu0
    tracer = env.tracer
    med = Medallion(spark, env)
    problems: list[str] = []
    ops: list[Op] = []
    cycles: list[Cycle] = []

    def one_cycle(traced: bool) -> float:
        rows, size = med.write_batches()
        before = med.snapshot()
        extracted: dict[str, int] = {}
        pipe = med.pipeline(tracer, extracted)
        if traced:
            tracer.install()
        host = HostWindow()
        t0 = time.perf_counter()
        ok = True
        try:
            with tracer.span("op", op_id=len(ops)):
                pipe.run(spark)
        except Exception as e:  # noqa: BLE001 - a failed cycle is counted, not fatal
            problems.append(f"cycle {med.cycle}: {type(e).__name__}: {e}")
            ok = False
        dt = time.perf_counter() - t0
        if traced:
            tracer.uninstall()
        found = med.verify() if ok else []
        problems.extend(found)
        ops.append(Op("cycle", med.cycle, dt, rows, ok and not found, traced, False, host.close()))
        cycles.append(Cycle(traced, size, sum(extracted.values()),
                            written_bytes(before, med.snapshot())))
        med.cycle += 1
        return dt

    # priming: cycle 0 lands the initial snapshot of every flow
    prime_s = one_cycle(False)
    setup_cpu_s += ops[0].host["cpu_s"]
    del ops[:], cycles[:]
    passes = measure(env, one_cycle)
    rss = peak_rss_mb(spark)
    setup_s = statistics.median(a + b for a, b in session_times) + prime_s
    res = Result(setup_s, setup_cpu_s, prime_s, session_times, ops, passes, rss, problems)
    spark.stop()
    if env.trace:
        res.layers = medallion_layers(env, res, cycles)
    return res


# -- metric folding ------------------------------------------------------

def end_to_end(res: Result) -> dict[str, float]:
    return {
        "setup_s": res.setup_s,
        "setup_cpu_s": res.setup_cpu_s,
        "op_cpu_s": statistics.median(o.host["cpu_s"] for o in res.timed(False)),
    }


def wall_clock(res: Result) -> dict[str, float]:
    """Latency and throughput of the untraced passes. Op rows are the
    rows a query counted, or the change rows a cycle landed in gold."""
    ops = res.timed(False)
    secs = [o.seconds for o in ops]
    return {
        "wall_s": statistics.median(s for s, t in res.passes if not t),
        "op_p50_s": statistics.median(secs),
        "rows_per_s": sum(max(o.rows, 0) for o in ops) / sum(secs),
        "peak_rss_mb": res.rss_mb,
    }


def _common_layers(env: Env, res: Result, n_passes: int) -> dict[str, float]:
    traced_ops = res.timed(True)
    untraced = [s for s, t in res.passes if not t]
    traced = [s for s, t in res.passes if t]
    hosts = [o.host for o in res.ops]
    out = {name: 0.0 for name in PER_LAYER_UNITS}
    out.update(wall_clock(res))
    out.update({
        "session.get_spark_s": res.session_times[0][0],
        "catalog.register_all_s": res.session_times[0][1],
        "setup.prime_s": res.prime_s,
        "cache.fills_in_timed_ops": float(sum(o.cache_fill for o in traced_ops)),
        "trace.overhead_frac": statistics.median(traced) / statistics.median(untraced) - 1.0,
        "host.steal_pct": statistics.mean(h["steal_pct"] for h in hosts),
        "host.load_1m": max(h["load_1m"] for h in hosts),
    })
    for name, secs in env.tracer.self_times().items():
        key = name + "_s"
        if key in out and name.startswith(("operators.", "plans.", "streaming.gold_")):
            out[key] = secs / n_passes
    return out


def _exec_layers(spans, jobs, stages, n_passes: int) -> dict[str, float]:
    """Job/stage/task totals for the jobs submitted inside ``spans``."""
    in_spans = [j for s in spans for j in jobs_within(jobs, s.start, s.end)]
    ran = [stages[sid] for j in in_spans for sid in j.stages if sid in stages and stages[sid].ran]
    return {
        "exec.action_s": sum(s.end - s.start for s in spans) / n_passes,
        "exec.jobs": len(in_spans) / n_passes,
        "exec.stages": len(ran) / n_passes,
        "exec.tasks": sum(st.tasks for st in ran) / n_passes,
        "exec.executor_run_s": sum(st.run_s for st in ran) / n_passes,
        "exec.shuffle_read_bytes": sum(st.shuffle_read for st in ran) / n_passes,
        "exec.shuffle_write_bytes": sum(st.shuffle_write for st in ran) / n_passes,
        "exec.spill_bytes": sum(st.spill for st in ran) / n_passes,
        "exec.driver_gap_s": sum(
            uncovered(s.start, s.end, jobs_within(jobs, s.start, s.end)) for s in spans
        ) / n_passes,
    }


def query_layers(env: Env, res: Result) -> dict[str, float]:
    tracer = env.tracer
    n = sum(1 for _, t in res.passes if t)
    out = _common_layers(env, res, n)
    jobs, stages = read_event_log(env.event_dir)
    builds = tracer.named("entry.build")
    out["entry.build_s"] = sum(s.end - s.start for s in builds) / n
    out["entry.build_py4j_calls"] = sum(s.py4j_calls for s in builds) / n
    out["entry.build_jobs"] = sum(len(jobs_within(jobs, s.start, s.end)) for s in builds) / n
    out.update(_exec_layers(tracer.named("exec.action"), jobs, stages, n))
    return out


def medallion_layers(env: Env, res: Result, cycles: list[Cycle]) -> dict[str, float]:
    tracer = env.tracer
    traced = [c for c in cycles if c.traced]
    n = len(traced)
    out = _common_layers(env, res, n)
    jobs, stages = read_event_log(env.event_dir)
    out.update(_exec_layers(tracer.named("op"), jobs, stages, n))
    for span in ("sources.incremental_extract", "streaming.silver", "streaming.gold"):
        out[span + "_s"] = sum(s.end - s.start for s in tracer.named(span)) / n
    change_bytes = sum(c.change_bytes for c in traced)
    w = {k: sum(c.written[k] for c in traced) for k in ("bronze", "silver", "gold", "chk")}
    out.update({
        "sources.rows_extracted": sum(c.extracted for c in traced) / n,
        "sources.bytes_written": w["bronze"] / n,
        "streaming.silver_bytes_written": w["silver"] / n,
        "streaming.checkpoint_bytes": w["chk"] / n,
        "streaming.gold_bytes_written": w["gold"] / n,
        "streaming.gold_write_amp": w["gold"] / change_bytes,
        "bytes_written_per_change_byte": sum(w.values()) / change_bytes,
    })
    return out


def run(env: Env) -> tuple[Result, dict[str, float]]:
    if env.workload == "medallion_cdc":
        res = run_medallion(env)
    elif env.workload == "star_analytics":
        res = run_queries(env, STAR_OPS)
    elif env.workload == "curation_build":
        res = run_queries(env, CURATION_OPS)
    else:
        raise ValueError(f"unknown workload {env.workload!r}")
    if env.trace:
        return res, {k: res.layers[k] for k in PER_LAYER_UNITS}
    return res, end_to_end(res)
