"""The benchmark's workloads, driven only through the program's public calls.

``snapshot_refresh``: one refresher thread re-runs the integration pipeline
(``sources.readers`` -> ``pipeline.covid`` clean/merge -> ``sources.sinks``
-> ``integration_summary``) on every newly landed snapshot against an
unchanged, already ingested history, publishing each result as a new gold
version, while two dashboard reader threads run the analytics surface over
the newest published version.

``registry_sf0.01``: one client runs the 19 HEADLINE + WAREHOUSE registry
queries of ``bench.py`` through the noop sink over seeded TPC-H-shaped
tables, in whole rounds.

Every workload returns a ``Result``; ``run.py`` turns it into the JSON line.
"""

from __future__ import annotations

import datetime
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import fixtures as fx
import reference as ref
import tracing as tr

#: ``now`` injected into ``merge_datasets`` (deterministic data age).
NOW = datetime.datetime(2021, 3, 1, 12, 0, 0)
#: snapshot_refresh: history entities x days (OWID publishes ~255 entities).
REFRESH_ENTITIES, REFRESH_DAYS = 255, 150
REFRESH_READERS = 2
#: Untimed refresh cycles after the set-up refresh, before the window.
WARMUP_REFRESHES = 1
#: Dashboard queries per second each reader issues (open loop), well under
#: what two readers sustain beside a refresh, so the work per refresh
#: cycle is fixed by the schedule, not by how fast the readers are.
READER_QPS = 1.0
#: Whole timed registry rounds per run, at least: each query's figure is
#: the median of this many executions.
REGISTRY_ROUNDS = 3
REGISTRY_SF = 0.01
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

DASHBOARD_OPS = (
    "top_k_by", "search_countries", "compare_countries", "threshold_filter",
    "overview_stats", "choropleth_frame", "histogram", "csv_export_string",
)
SEARCH_TERMS = tuple(fx._SYLLABLES) + ("korea", "uk", "rep", "ô", "north")


@dataclass
class Result:
    """What one workload run measured."""

    setup_s: float
    batch_s: list[float] = field(default_factory=list)
    batch_cpu_s: float = 0.0  # CPU per batch
    queries: dict[str, list[float]] = field(default_factory=dict)  # wall s per query type
    queries_per_s: float = 0.0  # closed loop only: an open loop's rate is its schedule
    read_lag_s: list[float] = field(default_factory=list)  # open loop: start - due time
    read_miss_share: float = 0.0  # open loop: reads ending after the next fell due
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


class Bench:
    """One benchmark process: a Spark session sized to the machine, a work
    directory inside the checkout, and the tracer (or its null stand-in)."""

    def __init__(self, work: str, seed: int, seconds: float, traced: bool,
                 driver_memory: str, t_start: float, out_path: str):
        self.work, self.seed, self.seconds, self.traced = work, seed, seconds, traced
        self.t_start, self.out_path = t_start, out_path
        self.cores = len(os.sched_getaffinity(0))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        conf = {
            "spark.driver.memory": driver_memory,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                         "spark.sql.ui.retainedExecutions": "100000"})
        from covid_data_challenge_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        self.tracer = tr.Tracer(self.sc) if traced else tr.NullTracer()

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this Python process."""
        import resource

        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver JVM (every engine thread)
        and this Python process. Unlike wall time, it does not grow while
        the work waits for a core another process holds."""
        with open(f"/proc/{self.jvm_pid}/stat", encoding="ascii") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        py = os.times()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + py.user + py.system

    def close(self) -> None:
        """Stop the session and wait for the gateway JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # the JVM must not outlive us
                proc.kill()
                proc.wait()

    def spark_layer(self, spans: list[tr.Span], groups: dict, wall: float) -> dict[str, float]:
        """Engine counters over every job the given spans started."""
        g = tr.sum_groups(groups, {sp.group for sp in spans})
        return {
            "spark.jobs": g.get("jobs", 0),
            "spark.stages": g.get("stages", 0),
            "spark.tasks": g.get("numTasks", 0),
            "spark.tasks_failed": g.get("numFailedTasks", 0),
            "spark.shuffle_write_bytes": g.get("shuffleWriteBytes", 0),
            "spark.spill_bytes": g.get("memoryBytesSpilled", 0) + g.get("diskBytesSpilled", 0),
            "spark.gc_s": g.get("jvmGcTime", 0) / 1000.0,
            "spark.busy_share": g.get("executorRunTime", 0) / 1000.0 / max(wall * self.cores, 1e-9),
        }


def _spans_in(tracer: tr.Tracer, t0: float, t1: float) -> list[tr.Span]:
    return [sp for sp in tracer.spans if sp.start >= t0 and sp.end <= t1 and sp.end > 0]


def _median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# --- snapshot_refresh ---------------------------------------------------------


class Published:
    """The newest complete gold version; readers switch to it."""

    def __init__(self):
        self._lock = threading.Lock()
        self.version = -1

    def set(self, v: int) -> None:
        with self._lock:
            self.version = v

    def get(self) -> int:
        with self._lock:
            return self.version


@contextmanager
def _traced_alignment(tracer):
    """While materialising, give the alignment calls ``merge_datasets`` makes
    their own spans, so the merge span's self time is the join and the
    derived metrics alone."""
    from covid_data_challenge_spark.pipeline import covid

    if not tracer.materialize:
        yield
        return
    names = [n for n in ("align_latest", "covid_trends") if hasattr(covid, n)]
    orig = {n: getattr(covid, n) for n in names}

    def wrap(n, f):
        def traced(*a, **k):
            with tracer.span(f"alignment.{n}"):
                return tracer.boundary(f(*a, **k))
        return traced

    for n in names:
        setattr(covid, n, wrap(n, orig[n]))
    try:
        yield
    finally:
        for n in names:
            setattr(covid, n, orig[n])


def integrate(b: Bench, history, snapshot_path: str, gold_path: str):
    """One integration pass chained as the reference pipeline chains it:
    clean both sources, merge, write the gold table, then
    summarise the (lazy) merged frame. ``history`` is a callable returning
    the raw history DataFrame. Returns the summary."""
    from covid_data_challenge_spark.pipeline import covid
    from covid_data_challenge_spark.sources.readers import read_snapshot_json
    from covid_data_challenge_spark.sources.sinks import write_parquet

    t = b.tracer
    with t.span("readers.history_parquet"):
        raw_h = t.boundary(history())
    with t.span("readers.snapshot_json"):
        raw_s = t.boundary(read_snapshot_json(b.spark, snapshot_path))
    with t.span("clean.history"):
        h = t.boundary(covid.clean_history(raw_h))
    with t.span("clean.snapshot"):
        s = t.boundary(covid.clean_snapshot(raw_s))
    with _traced_alignment(t), t.span("merge") as sp:
        lazy = covid.merge_datasets(h, s, now=NOW)
        merged = t.boundary(lazy)
    if sp is not None and t.materialize:
        sp.attrs["broadcast_joins"] = tr.count_broadcast_joins(
            lazy._jdf.queryExecution().executedPlan().toString())
        sp.attrs["output_rows"] = merged.count()
    with t.span("sinks.gold_write"):
        write_parquet(merged, gold_path)
    with t.span("summary"):
        return covid.integration_summary(merged)


def _dashboard_params(op: str, rng: np.random.Generator, names: list[str]) -> dict:
    pick = lambda n: sorted(rng.choice(names, size=n, replace=False).tolist())  # noqa: E731
    if op == "top_k_by":
        return {"metric": str(rng.choice(["api_current_cases", "api_current_deaths",
                                          "cases_data_gap_percent"])),
                "k": int(rng.choice([5, 10, 15]))}
    if op == "search_countries":
        return {"term": str(rng.choice(SEARCH_TERMS))}
    if op == "compare_countries":
        return {"countries": pick(5)}
    if op == "threshold_filter":
        return {"metric": "cases_data_gap_percent", "threshold": round(float(rng.uniform(-5, 30)), 1)}
    if op == "overview_stats":
        return {}
    if op == "choropleth_frame":
        return {"metric": str(rng.choice(["api_current_cases", "cases_data_gap_percent"]))}
    if op == "histogram":
        return {"metric": str(rng.choice(["api_current_cases", "api_current_deaths"])),
                "bins": int(rng.choice([10, 20, 30]))}
    if op == "csv_export_string":
        return {"countries": pick(10)}
    raise ValueError(op)


def dashboard_query(op: str, gold, params: dict):
    """Run one dashboard operation and bring its result to the driver in a
    normal form ``reference.dashboard`` reproduces."""
    from pyspark.sql import functions as F

    from covid_data_challenge_spark.operators.profiling import histogram
    from covid_data_challenge_spark.pipeline import covid
    from covid_data_challenge_spark.sources.sinks import csv_export_string

    name = "country_standardized"
    if op == "top_k_by":
        m = params["metric"]
        return [(r[name], float(r[m])) for r in covid.top_k_by(gold, m, params["k"]).collect()]
    if op == "search_countries":
        return sorted(r[name] for r in covid.search_countries(gold, params["term"]).collect())
    if op == "compare_countries":
        return sorted(r[name] for r in covid.compare_countries(gold, params["countries"]).collect())
    if op == "threshold_filter":
        rows = gold.filter(F.col(params["metric"]) >= params["threshold"]).collect()
        return sorted(r[name] for r in rows)
    if op == "overview_stats":
        return covid.overview_stats(gold)
    if op == "choropleth_frame":
        m = params["metric"]
        return sorted((r["iso_code"], r[name], float(r[m]))
                      for r in covid.choropleth_frame(gold, m).collect())
    if op == "histogram":
        rows = histogram(gold, params["metric"], params["bins"]).collect()
        return sorted((r["bucket"], r["bucket_count"]) for r in rows)
    if op == "csv_export_string":
        return ref.csv_names(csv_export_string(covid.compare_countries(gold, params["countries"])))
    raise ValueError(op)


def snapshot_refresh(b: Bench) -> Result:
    from covid_data_challenge_spark.sources.readers import load_table, read_history_csv
    from covid_data_challenge_spark.sources.sinks import write_parquet

    t = b.tracer
    seed = b.seed
    # set-up: fixtures, ingest of the history, first gold version
    ent = fx.Entities(REFRESH_ENTITIES, seed)
    history = fx.history_frame(ent, REFRESH_DAYS, seed)
    base = fx.snapshot_base(ent, history, seed)
    csv_path = b.path("landing", "history.csv")
    fx.write_history_csv(history, csv_path)
    ingest_dir, gold_dir = b.path("ingest", ""), b.path("gold", "")
    t.materialize = b.traced
    with t.span("ingest"):
        with t.span("readers.history_csv"):
            raw = t.boundary(read_history_csv(b.spark, csv_path))
        with t.span("sinks.history_write"):
            write_parquet(raw, os.path.join(ingest_dir, "history.parquet"))

    def land(step: int) -> str:
        p = b.path("landing", f"snapshot_{step:04d}.json")
        fx.write_snapshot_json(fx.drift(base, step, seed), p,
                               int(NOW.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000))
        return p

    def gold_path(v: int) -> str:
        return os.path.join(gold_dir, f"v{v:04d}.parquet")

    history_reader = lambda: load_table(b.spark, ingest_dir, "history")  # noqa: E731
    published = Published()
    refreshes: dict[int, dict] = {}  # step -> integration summary
    latencies: dict[int, float] = {}
    modes: dict[int, bool] = {}
    res = Result(setup_s=0.0)

    def refresh(step: int) -> None:
        """Land snapshot ``step`` (untimed), then integrate and publish it,
        timed from landing to published."""
        snap_path = land(step)
        q0 = time.perf_counter()
        try:
            with t.span("refresh", step=step, materialize=t.materialize):
                refreshes[step] = integrate(b, history_reader, snap_path, gold_path(step))
            published.set(step)
            latencies[step] = time.perf_counter() - q0
            modes[step] = t.materialize
        except Exception as e:  # noqa: BLE001 — a failed refresh is a counted failure
            res.fail(f"refresh {step}: {type(e).__name__}: {e}")

    t.materialize = False
    refresh(0)
    if 0 not in refreshes:
        raise RuntimeError(f"the set-up refresh failed: {res.errors}")
    ref_names = sorted(ref.gold(history, base, NOW).index)

    reads: list[tuple] = []
    reads_lock = threading.Lock()
    stop = threading.Event()
    t_readers = time.perf_counter()

    def reader(tid: int) -> None:
        """Open loop: queries fall due every ``1 / READER_QPS`` seconds
        whatever the previous one did; latency runs from the due time."""
        rng = np.random.default_rng([seed, 100 + tid])
        version, gold = -1, None
        i = tid
        due = t_readers + tid / (READER_QPS * REFRESH_READERS)
        while not stop.wait(max(0.0, due - time.perf_counter())):
            op = DASHBOARD_OPS[i % len(DASHBOARD_OPS)]
            i += 1
            params = _dashboard_params(op, rng, ref_names)
            q0, due = due, due + 1.0 / READER_QPS
            started = time.perf_counter()
            try:
                with t.span(f"analytics.{op}"):
                    v = published.get()
                    if v != version:
                        version, gold = v, load_table(b.spark, gold_dir, f"v{v:04d}")
                    got = dashboard_query(op, gold, params)
                err = None
            except Exception as e:  # noqa: BLE001 — a failed read is a counted failure
                got, err = None, f"{type(e).__name__}: {e}"
            with reads_lock:
                reads.append((op, params, version, q0, started, time.perf_counter(), got, err))

    threads = [threading.Thread(target=reader, args=(i,), name=f"reader-{i}")
               for i in range(REFRESH_READERS)]
    for th in threads:
        th.start()
    try:
        # warm-up, readers included: the JIT is still compiling the refresh
        # path for the first few refresh cycles after refresh 0 (each one
        # cheaper than the last)
        for step in range(1, WARMUP_REFRESHES + 1):
            refresh(step)
        res.setup_s = time.perf_counter() - b.t_start
        cpu0 = b.cpu_s()
        t_begin = time.perf_counter()
        # whole refresh cycles: the window ends when the last refresh that
        # started within --seconds has published (traced runs need one
        # plain and one materialised pass); traced runs alternate them
        step = WARMUP_REFRESHES + 1
        while time.perf_counter() - t_begin < b.seconds or (b.traced and step <= WARMUP_REFRESHES + 2):
            t.materialize = b.traced and step % 2 == 0
            refresh(step)
            step += 1
        t_end = time.perf_counter()
        window_cpu_s = b.cpu_s() - cpu0
    finally:
        stop.set()
        for th in threads:
            th.join()
    t.materialize = False

    # results: refreshes and reads inside the window
    timed = [s for s in latencies if s > WARMUP_REFRESHES]
    res.batch_s = [latencies[s] for s in timed if not modes[s]]
    res.batch_cpu_s = window_cpu_s / max(len(timed), 1)
    window = [(op, q0, started, q1) for op, _, _, q0, started, q1, _, err in reads
              if err is None and q0 >= t_begin and q1 <= t_end]
    for op, q0, _, q1 in window:
        res.queries.setdefault(op, []).append(q1 - q0)
    res.read_lag_s = [started - q0 for _, q0, started, _ in window]
    res.read_miss_share = (sum(q1 - q0 > 1.0 / READER_QPS for _, q0, _, q1 in window)
                           / max(len(window), 1))
    res.attempted += step + len(reads)

    # output checks, outside the timed region
    refs: dict[int, pd.DataFrame] = {}

    def ref_for(v: int) -> pd.DataFrame:
        if v not in refs:
            refs[v] = ref.gold(history, fx.drift(base, v, seed), NOW)
        return refs[v]

    for v, summary in sorted(refreshes.items()):
        r = ref_for(v)
        why = ref.check_summary(summary, r)
        why = why or ref.check_gold_table(pd.read_parquet(gold_path(v)), r)
        if why:
            res.fail(f"refresh {v}: {why}")
    for op, params, v, _, _, _, got, err in reads:
        if err is not None:
            res.fail(f"{op}: {err}")
        elif got != ref.dashboard(op, params, ref_for(v)):
            res.fail(f"{op} {params} on v{v}: result differs from reference")

    if b.traced:
        res.layers = _refresh_layers(b, t_begin, t_end, latencies, modes)
    res.peak_rss_mb = b.peak_rss_mb()
    return res


def _refresh_layers(b: Bench, t_begin: float, t_end: float, latencies, modes) -> dict:
    t: tr.Tracer = b.tracer
    jobs, stage_list = tr.spark_metrics(b.sc)
    groups = tr.group_metrics(jobs, stage_list)
    selfs = tr.self_time(t.spans)
    by_id = {sp.id: sp for sp in t.spans}

    def root(sp: tr.Span) -> tr.Span:
        while sp.parent is not None:
            sp = by_id[sp.parent]
        return sp

    def spans(name: str, materialized: bool | None = True) -> list[tr.Span]:
        out = []
        for sp in t.spans:
            if sp.name != name or sp.end <= 0:
                continue
            r = root(sp)
            if r.name == "refresh" and r.start < t_begin:
                continue  # set-up and warm-up passes
            if materialized is None or r.name != "refresh" or r.attrs["materialize"] == materialized:
                out.append(sp)
        return out

    def self_s(name: str, materialized: bool | None = True) -> float:
        return _median_or_zero(selfs[sp.id] for sp in spans(name, materialized))

    def counter(name: str, key: str, materialized: bool | None = True) -> float:
        return _median_or_zero(groups.get(sp.group, {}).get(key, 0) for sp in spans(name, materialized))

    csv = spans("readers.history_csv", None)
    csv_g = groups.get(csv[0].group, {}) if csv else {}
    csv_s = selfs[csv[0].id] if csv else 0.0
    align = [sp for n in ("alignment.align_latest", "alignment.covid_trends")
             for sp in spans(n)]
    merges = spans("merge")
    plain = [s for s in latencies if not modes[s]]
    mat = [s for s in latencies if modes[s]]
    window = _spans_in(t, t_begin, t_end)
    reads = [sp for sp in window if sp.name.startswith("analytics.")]
    layers = {
        "session.start_s": b.session_start_s,
        "readers.history_csv_s": csv_s,
        "readers.history_csv_rows_per_s": csv_g.get("inputRecords", 0) / csv_s if csv_s else 0.0,
        "readers.history_csv_input_bytes": csv_g.get("inputBytes", 0),
        "readers.snapshot_json_s": self_s("readers.snapshot_json"),
        "readers.history_parquet_s": self_s("readers.history_parquet"),
        "clean.history_s": self_s("clean.history"),
        "clean.history_shuffle_write_bytes": counter("clean.history", "shuffleWriteBytes"),
        "clean.history_spill_bytes": _median_or_zero(
            groups.get(sp.group, {}).get("memoryBytesSpilled", 0)
            + groups.get(sp.group, {}).get("diskBytesSpilled", 0) for sp in spans("clean.history")),
        "clean.snapshot_s": self_s("clean.snapshot"),
        "alignment.align_latest_s": self_s("alignment.align_latest"),
        "alignment.covid_trends_s": self_s("alignment.covid_trends"),
        "alignment.shuffle_write_bytes": sum(
            groups.get(sp.group, {}).get("shuffleWriteBytes", 0) for sp in align) / max(len(merges), 1),
        "merge.join_derive_s": self_s("merge"),
        "merge.broadcast_joins": _median_or_zero(sp.attrs.get("broadcast_joins", 0) for sp in merges),
        "merge.output_rows": _median_or_zero(sp.attrs.get("output_rows", 0) for sp in merges),
        "sinks.gold_write_s": self_s("sinks.gold_write"),
        "sinks.gold_bytes_written": counter("sinks.gold_write", "outputBytes"),
        # the summary as the pipeline runs it: over the lazy merged frame
        "summary.s": self_s("summary", False),
        "summary.spark_jobs": counter("summary", "jobs", False),
        "summary.input_rows": counter("summary", "inputRecords", False),
        "trace.overhead_s": (_median_or_zero(latencies[s] for s in mat)
                             - _median_or_zero(latencies[s] for s in plain)) if mat and plain else 0.0,
    }
    for op in DASHBOARD_OPS:
        layers[f"analytics.{op}_ms"] = 1000 * _median_or_zero(
            sp.duration for sp in reads if sp.name == f"analytics.{op}")
    layers["analytics.spark_jobs_per_query"] = (
        sum(groups.get(sp.group, {}).get("jobs", 0) for sp in reads) / max(len(reads), 1))
    layers["analytics.tasks_per_query"] = (
        sum(groups.get(sp.group, {}).get("numTasks", 0) for sp in reads) / max(len(reads), 1))
    layers.update(b.spark_layer(window, groups, t_end - t_begin))
    t.write(b.out_path, groups)
    return layers


# --- registry -------------------------------------------------------------------


def _execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def registry_queries() -> list[str]:
    """The queries of the ``bench.py`` headline series: HEADLINE + WAREHOUSE."""
    import bench

    return bench.HEADLINE + bench.WAREHOUSE


def registry(b: Bench) -> Result:
    from covid_data_challenge_spark.registry import REGISTRY

    t = b.tracer
    data = b.path("tpch", "")
    fx.write_tables(fx.tpch_tables(REGISTRY_SF, b.seed), data)
    specs = [(n, REGISTRY[n]) for n in registry_queries()]
    res = Result(setup_s=0.0)

    # cold round, untimed: each query's result is collected here and
    # checked against its oracle after the timed rounds
    results: dict[str, pd.DataFrame] = {}
    for name, spec in specs:
        res.attempted += 1
        try:
            results[name] = spec.spark(b.spark, data).toPandas()
        except Exception as e:  # noqa: BLE001
            res.fail(f"{name}: {type(e).__name__}: {e}")
    res.setup_s = time.perf_counter() - b.t_start

    per_query: dict[str, list[float]] = {n: [] for n, _ in specs}
    per_query_cpu: dict[str, list[float]] = {n: [] for n, _ in specs}
    traced_rounds: list[float] = []
    plain_rounds: list[float] = []
    # whole rounds: at least REGISTRY_ROUNDS (traced runs: two, one with
    # spans and one without, alternating), then more until the time is up
    min_rounds = 2 if b.traced else REGISTRY_ROUNDS
    t_begin = time.perf_counter()
    rnd = 0
    while rnd < min_rounds or time.perf_counter() - t_begin < b.seconds:
        with_spans = b.traced and rnd % 2 == 0
        round_s = 0.0
        for name, spec in specs:
            res.attempted += 1
            c0 = b.cpu_s()
            q0 = time.perf_counter()
            try:
                if with_spans:
                    with t.span(f"registry.{name}"):
                        _execute(spec.spark(b.spark, data))
                else:
                    _execute(spec.spark(b.spark, data))
            except Exception as e:  # noqa: BLE001
                res.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            dt = time.perf_counter() - q0
            round_s += dt
            if not with_spans:
                per_query[name].append(dt)
                per_query_cpu[name].append(b.cpu_s() - c0)
        (traced_rounds if with_spans else plain_rounds).append(round_s)
        rnd += 1
    t_end = time.perf_counter()
    res.queries = {n: v for n, v in per_query.items() if v}
    q = [x for v in res.queries.values() for x in v]
    res.queries_per_s = len(q) / sum(q)  # one client, closed loop
    res.batch_s = [sum(statistics.median(v) for v in res.queries.values())]
    res.batch_cpu_s = sum(statistics.median(v) for v in per_query_cpu.values() if v)

    # output checks, outside the timed region
    con = ref.duckdb_views(data, TPCH_TABLES)
    exact = ref.duckdb_views(data, TPCH_TABLES, exact=True)
    for name, spec in specs:
        if name in results:
            try:
                why = ref.check_registry(results[name], con.execute(spec.oracle).fetchdf(),
                                         lambda: ref.exact_oracle(exact, spec.oracle))
            except Exception as e:  # noqa: BLE001
                why = f"{type(e).__name__}: {e}"
            if why:
                res.fail(f"{name}: {why}")
    con.close()
    exact.close()

    if b.traced:
        res.layers = _registry_layers(b, t_begin, t_end, traced_rounds, plain_rounds)
    res.peak_rss_mb = b.peak_rss_mb()
    return res


def _registry_layers(b: Bench, t_begin, t_end, traced_rounds, plain_rounds) -> dict:
    t: tr.Tracer = b.tracer
    jobs, stage_list = tr.spark_metrics(b.sc)
    groups = tr.group_metrics(jobs, stage_list)
    window = _spans_in(t, t_begin, t_end)
    names = registry_queries()
    layers = {"session.start_s": b.session_start_s}
    for name in names:
        layers[f"registry.{name}_s"] = _median_or_zero(
            sp.duration for sp in window if sp.name == f"registry.{name}")
    layers["registry.shuffle_write_bytes"] = sum(
        _median_or_zero(groups.get(sp.group, {}).get("shuffleWriteBytes", 0)
                        for sp in window if sp.name == f"registry.{name}")
        for name in names)
    layers["trace.overhead_s"] = statistics.median(traced_rounds) - statistics.median(plain_rounds)
    layers.update(b.spark_layer(window, groups, sum(sp.duration for sp in window)))
    t.write(b.out_path, groups)
    return layers


WORKLOADS = {"snapshot_refresh": snapshot_refresh, "registry_sf0.01": registry}
