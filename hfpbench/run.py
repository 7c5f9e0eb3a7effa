"""End-to-end benchmark of the HFP sink: encoded bytes in, committed
partitioned-parquet store out, SQL queries over the store.

    python3 hfpbench/run.py --workload wire_backlog --seed 1 --seconds 24 --trace 0

Run it from the repository root. Every run, on every workload:

1. generates its seeded input files (not timed);
2. sets up twice (session start plus a warm-up micro-batch through the
   pipeline) and reports the median, plus the catalog registration, as
   ``setup_s``;
3. ingests: a file stream of the encoded bytes, decoded by
   ``sources.protowire.decode_hfp_wire`` or ``sources.decode.decode_hfp_json``,
   runs through ``streaming.pipeline.HfpPipeline`` at its 1 s trigger into
   ``sinks.parquet.write_vehicles_parquet`` plus the dead-letter path;
4. queries: registers the store with ``catalog.register_catalog`` and runs
   a fixed number of rounds of a query mix, one client in a closed loop;
5. checks: reconciles the store and the dead-letter rows with the
   generator's truth, and every query result with DuckDB reading the same
   files.

Workloads differ in input encoding and arrival (a backlog drained as fast
as the sink goes, or files landing on a schedule); see WORKLOADS. The
traffic model is in ``gen.py``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the ingest
three times (untraced, traced, untraced; the traced result minus the mean of
the untraced ones is the tracing overhead), records spans, and then times
each layer on its own ("legs") over a batch-sized cached copy of the
workload's own input, at all cores and at one.
It prints the per-layer metrics. Spans are written to
``.bench_build/hfpbench/traces/`` at exit.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Operations are
micro-batches and queries; a mismatch with the generator's truth or with
DuckDB, an exception and a refused batch each count as failed.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from multiprocessing import get_context, resource_tracker

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "hfpbench")
CORES = len(os.sched_getaffinity(0))

import gen  # noqa: E402
from measure import (  # noqa: E402
    RssSampler, Tracer, median, percentile, reconcile, reportable_percentile, samples_for,
)

SETUPS = 2  # set-ups per run; setup_s is their median
TRIGGER_S = 1.0  # the reference's 1 s dump interval
#: vehicles in service, each sending one message a second: the top of the
#: ~100-1000 vehicles FIXTURES.md gives for HFP data, so the feed runs at
#: 1000 msg/s. At that rate the paced sink runs well under its capacity,
#: where a slower host does not snowball into ever larger batches
VEHICLES = 1000
#: freshness is sampled per file and reported at p90, so a run lands at least
#: this many files
P90_SAMPLES = samples_for(90)
#: query latency is reported at p75: a p90 would need 100 queries, which
#: take about 28 s on 4 cores, more than a run's budget
P75_SAMPLES = samples_for(75)
#: one warm-up batch of four files; the JIT keeps compiling for many rows,
#: and a smaller batch left the first measured batches up to 40 % slower
WARMUP_FILES, WARMUP_ROWS = 4, 1500
LEG_REPS = 3
INGEST_TIMEOUT_S = 60  # a stream that has not drained by then counts as failed
#: one client runs these in order, again and again. Half the mix is
#: vehicle_day, whose cost lies between the others', so the median falls
#: inside one kind's block of samples and not on the edge between two kinds
QUERY_MIX = ("hour_window", "vehicle_day", "hourly_rollup", "vehicle_day",
             "latest_positions", "vehicle_day")
NOMINAL_ROUND_S = 1.7  # one round of the mix over a workload's store, on 4 cores


@dataclass(frozen=True)
class Workload:
    encoding: str  # "wire" (protobuf frames in parquet) or "json" (text lines)
    rows_per_file: int
    files_per_trigger: int | None  # None: paced, each trigger takes what landed
    rate: int  # paced: messages/s offered; backlog: rows/s the backlog is sized by
    ingest_share: float  # share of --seconds for ingest; the rest queries


WORKLOADS = {
    # protobuf wire frames drained from a backlog: decode and sink bound
    "wire_backlog": Workload(
        encoding="wire", rows_per_file=450, files_per_trigger=20, rate=3_750,
        ingest_share=0.5,
    ),
    # JSON files landing on a schedule at the fleet's own rate: per-batch
    # fixed costs and freshness
    "json_paced": Workload(
        encoding="json", rows_per_file=100, files_per_trigger=None, rate=VEHICLES,
        ingest_share=0.5,
    ),
}


# ---------------------------------------------------------------------------
# input
# ---------------------------------------------------------------------------

@dataclass
class Inputs:
    names: list  # file names in landing order
    truths: list  # gen.Truth per file
    src: str  # directory holding the files
    interval_s: float | None  # paced landing interval


def _ext(encoding: str) -> str:
    return "parquet" if encoding == "wire" else "txt"


def generate(seed: int, wl: Workload, seconds: int, src: str, pool) -> Inputs:
    """The workload's seeded input files, made in parallel: at least
    P90_SAMPLES of them, since freshness is sampled per file."""
    rows = wl.rows_per_file
    n_files = max(P90_SAMPLES, round(seconds * wl.ingest_share * wl.rate / rows))
    if wl.files_per_trigger:  # whole batches
        n_files = wl.files_per_trigger * math.ceil(n_files / wl.files_per_trigger)
    os.makedirs(src, exist_ok=True)
    names = [f"part-{i:05d}.{_ext(wl.encoding)}" for i in range(n_files)]
    futs = [pool.submit(gen.make_file, seed, VEHICLES, i, i * rows, rows,
                        wl.encoding, os.path.join(src, name))
            for i, name in enumerate(names)]
    truths = [f.result() for f in futs]
    interval = rows / wl.rate if wl.files_per_trigger is None else None
    return Inputs(names, truths, src, interval)


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and make the workers import the library from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def start_session(work: str, cores: int):
    from transitlog_hfp_sink_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    spark = build_session(
        app_name="hfpbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark, if it runs, and wait for the JVM and its Python workers
    to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, not to init,
    so that ``reap_children`` can wait for the Python workers the JVM
    started (Linux's PR_SET_CHILD_SUBREAPER)."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def reap_children(grace_s: float = 20.0) -> None:
    """Stop the multiprocessing resource tracker, which else outlives this
    process, then wait for every child to end: terminated after
    ``grace_s``, killed after twice that."""
    if getattr(resource_tracker._resource_tracker, "_pid", None) is not None:
        resource_tracker._resource_tracker._stop()
    start = time.time()
    sent = None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        waited = time.time() - start
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else None
        if sig is not None and sig != sent:
            for child in _children():
                try:
                    os.kill(child, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def _listener_class():
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Keeps each batch's progress, keyed by batchId; sets ``done``
        once ``total`` input rows have been committed."""

        def __init__(self, total: int) -> None:
            self.total = total
            self.rows = 0
            self.batches: dict[int, dict] = {}
            self.done = threading.Event()

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = json.loads(event.progress.json)
            if p["numInputRows"] > 0:
                self.batches[p["batchId"]] = p
                self.rows += p["numInputRows"]
                if self.rows >= self.total:
                    self.done.set()

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            self.done.set()

    return Progress


def _epoch(iso: str) -> float:
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _file_batches(checkpoint: str) -> dict[str, int]:
    """file name -> batchId, from the file source's log in the checkpoint."""
    out = {}
    d = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def ingest(spark, wl: Workload, inputs: Inputs, out: str, deadline: float,
           tracer: Tracer, parent) -> dict:
    """Stream the input through HfpPipeline; returns batches, times and the
    store paths. Input files are hard-linked into the watched directory:
    a backlog all at once before the stream starts, paced inputs at their
    due times by a generator thread."""
    from transitlog_hfp_sink_spark.sinks.parquet import write_vehicles_parquet
    from transitlog_hfp_sink_spark.sources.decode import decode_hfp_json
    from transitlog_hfp_sink_spark.sources.protowire import decode_hfp_wire
    from transitlog_hfp_sink_spark.streaming.pipeline import HfpPipeline

    store, dead, ckpt = (os.path.join(out, d) for d in ("store", "dead", "ckpt"))
    watched = os.path.join(out, "landing")
    os.makedirs(watched)
    total = sum(t.rows for t in inputs.truths)
    listener = _listener_class()(total)
    spark.streams.addListener(listener)
    reader = spark.readStream
    if wl.files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(wl.files_per_trigger))
    if wl.encoding == "wire":
        raw = decode_hfp_wire(reader.schema("value binary").parquet(watched))
    else:
        raw = decode_hfp_json(reader.text(watched))

    sink_times: dict[int, tuple[float, float]] = {}

    def sink(df, batch_id: int) -> None:
        t0 = time.time()
        write_vehicles_parquet(df, store)
        if tracer.enabled:
            sink_times[batch_id] = (t0, time.time())

    pipe = HfpPipeline(sink=sink, checkpoint=ckpt, trigger_seconds=TRIGGER_S,
                       dead_letter_path=dead)
    landed: list[float] = []
    stop_landing = threading.Event()

    def land(due: list[float]) -> None:
        for name, t_due in zip(inputs.names, due):
            if stop_landing.wait(max(0.0, t_due - time.time())):
                return
            os.link(os.path.join(inputs.src, name), os.path.join(watched, name))
            landed.append(time.time())

    lander = None
    if inputs.interval_s is None:  # a backlog: every file is due at once
        due = [time.time()] * len(inputs.names)
        land(due)
        q = pipe.start(raw)
    else:
        q = pipe.start(raw)
        first = time.time() + 0.5
        due = [first + i * inputs.interval_s for i in range(len(inputs.names))]
        lander = threading.Thread(target=land, args=(due,), daemon=True)
        lander.start()
    error = None
    try:
        while not listener.done.wait(0.2):
            if q.exception() is not None or time.time() > deadline:
                break
        if q.exception() is not None:
            error = str(q.exception())
        elif listener.rows < total:
            error = f"timed out: {listener.rows} of {total} rows committed"
    finally:
        stop_landing.set()
        if lander is not None:
            lander.join()
        q.stop()
        spark.streams.removeListener(listener)

    batches = [listener.batches[b] for b in sorted(listener.batches)]
    commit = {p["batchId"]: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
              for p in batches}
    of_file = _file_batches(ckpt)
    fresh = [commit[of_file[n]] - d for n, d in zip(inputs.names, due) if of_file.get(n) in commit]
    t0 = due[0]
    for p in batches:
        b = p["batchId"]
        start = _epoch(p["timestamp"])
        sid = tracer.add("batch", start, commit[b], parent, batchId=b, rows=p["numInputRows"])
        if b in sink_times:
            tracer.add("sink", *sink_times[b], sid, batchId=b)
    # files waiting when each batch began: landed before it, not yet taken
    waiting, taken = [], 0
    for p in batches:
        start = _epoch(p["timestamp"])
        waiting.append(sum(1 for t in landed if t <= start) - taken)
        taken += sum(1 for b in of_file.values() if b == p["batchId"])
    jobs = _jobs_per_batch(spark.sparkContext, str(q.runId))
    return {
        "error": error, "batches": batches, "sink_times": sink_times,
        "store": store, "dead": dead, "rows": listener.rows,
        "rows_per_s": listener.rows / (max(commit.values()) - t0) if commit else 0.0,
        "freshness": fresh, "late": [a - d for a, d in zip(landed, due)],
        "backlog_max": max(waiting, default=0), "jobs": jobs,
    }


def _jobs_per_batch(sc, run_id: str) -> dict[int, int]:
    """Jobs each micro-batch ran, from the query's run-id job group. A
    batch's jobs carry "batch = N" in their description; a job without one
    (the file listing of a batch of many files) belongs to the batch whose
    jobs follow it."""
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    tagged = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if not j.jobGroup().isDefined() or j.jobGroup().get() != run_id:
            continue
        desc = j.description().get() if j.description().isDefined() else ""
        m = re.search(r"batch = (\d+)$", desc)
        tagged.append((j.jobId(), int(m.group(1)) if m else None))
    counts: dict[int, int] = {}
    pending = 0
    for _, batch in sorted(tagged):
        if batch is None:
            pending += 1
            continue
        counts[batch] = counts.get(batch, 0) + 1 + pending
        pending = 0
    return counts


def read_back(con, store: str, dead: str) -> dict:
    """What the sink committed, read with DuckDB."""
    keys = con.sql(
        f"SELECT unique_vehicle_id, epoch_us(CAST(tst AS TIMESTAMP)) "
        f"FROM read_parquet('{store}/**/*.parquet', hive_partitioning = true)"
    ).fetchall()
    reasons = dict(con.sql(
        f"SELECT reject_reason, count(*) FROM read_parquet('{dead}/*.parquet') GROUP BY 1"
    ).fetchall()) if os.path.isdir(dead) else {}
    return {"stored": len(keys), "dead": reasons, "digest": gen.key_digest(keys)}


def store_layout(store: str) -> tuple[int, int]:
    """(parquet files, parquet bytes) under the store."""
    files = size = 0
    for d, _, names in os.walk(store):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def hour_partitions(store: str) -> int:
    return sum(1 for d, subdirs, _ in os.walk(store)
               if os.path.basename(d).startswith("received_hour="))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

_DUCK_STORE = "read_parquet('{store}/**/*.parquet', hive_partitioning = true)"


def query_sql(kind: str, param) -> tuple[str, str, bool]:
    """(Spark SQL, DuckDB SQL over table ``v``, result is ordered)."""
    if kind == "hour_window":
        day, hour = param
        where = f"received_date = DATE '{day}' AND received_hour = {hour}"
        sql = f"SELECT route_id, count(*) AS n FROM {{t}} WHERE {where} GROUP BY route_id"
        return sql.format(t="vehicles"), sql.format(t="v"), False
    if kind == "vehicle_day":
        uid, oday = param
        sql = ("SELECT CAST(tst AS TIMESTAMP) AS tst, event_type, lat, long, spd, odo FROM {t} "
               f"WHERE unique_vehicle_id = '{uid}' AND oday = DATE '{oday}' "
               "ORDER BY tst, event_type")
        return sql.format(t="vehicles"), sql.format(t="v"), True
    if kind == "latest_positions":
        spark_sql = ("SELECT unique_vehicle_id, tst, event_type, route_id, lat, long, spd, odo "
                     "FROM vehicles_latest")
        # the view's twin: the row with the greatest (tst, event_type,
        # journey_type) per vehicle among ongoing rows
        duck_sql = (
            "SELECT unique_vehicle_id, CAST(tst AS TIMESTAMP), event_type, route_id, lat, long, "
            "spd, odo FROM (SELECT *, row_number() OVER (PARTITION BY unique_vehicle_id "
            "ORDER BY tst DESC, event_type DESC NULLS LAST, journey_type DESC NULLS LAST) AS rn "
            "FROM v WHERE is_ongoing) WHERE rn = 1")
        return spark_sql, duck_sql, False
    if kind == "hourly_rollup":
        spark_sql = ("SELECT time_bucket(3600, tst) AS bucket, route_id, count(*) AS n, "
                     "avg(spd) AS avg_spd FROM vehicles WHERE is_ongoing GROUP BY 1, 2")
        duck_sql = ("SELECT date_trunc('hour', CAST(tst AS TIMESTAMP)) AS bucket, route_id, "
                    "count(*) AS n, avg(spd) AS avg_spd FROM v WHERE is_ongoing GROUP BY 1, 2")
        return spark_sql, duck_sql, False
    raise ValueError(kind)


def _norm(rows, ordered: bool) -> list:
    """Rows as tuples; an unordered result sorted by its non-float values
    (the group keys)."""
    out = [tuple(r) for r in rows]
    if ordered:
        return out
    return sorted(out, key=lambda r: repr([x for x in r if not isinstance(x, float)]))


def same_rows(got: list, want: list) -> bool:
    """Equal, except that floats need only agree to 1e-9 relative: the two
    engines may sum in another order."""
    return len(got) == len(want) and all(
        len(a) == len(b) and all(
            math.isclose(x, y, rel_tol=1e-9) if isinstance(x, float) and isinstance(y, float)
            else x == y for x, y in zip(a, b))
        for a, b in zip(got, want))


def query_params(keys: list, rng: random.Random) -> dict:
    """Query parameters from the generator's truth: the hours the events
    span, and a seeded sample of the vehicles (all send alike)."""
    hours = sorted({(d.date().isoformat(), d.hour) for d in (
        dt.datetime.fromtimestamp(us // 1_000_000, dt.timezone.utc) for _, us in keys)})
    vehicles = sorted({uid for uid, _ in keys})
    picks = rng.sample(vehicles, min(8, len(vehicles)))
    return {
        "hour_window": hours,
        "vehicle_day": [(u, gen.ODAY) for u in picks],
        "latest_positions": [None],
        "hourly_rollup": [None],
    }


def _scan_files(jdf) -> int:
    """The executed plan's "number of files read", summed over its scans."""
    total, todo = 0, [jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if name.startswith("FileSourceScan") and node.metrics().contains("numFiles"):
            total += node.metrics().apply("numFiles").value()
        todo += _seq(node.children())
    return total


def run_queries(spark, store: str, keys: list, seconds: float, seed: int, tracer: Tracer,
                parent) -> dict:
    """Register the store, warm each query up once, then time a fixed
    number of rounds of the mix. Results are kept for ``check_queries``."""
    from transitlog_hfp_sink_spark.catalog import register_catalog

    t0 = time.time()
    register_catalog(spark, vehicles_path=store)
    register_s = time.time() - t0
    tracer.add("catalog.register", t0, t0 + register_s, parent)
    rng = random.Random(seed)
    params = query_params(keys, rng)
    times: dict[str, list[float]] = {k: [] for k in QUERY_MIX}
    results, failed, files_read = [], [], 0
    # warm-up pass, untimed; in a traced run it also reads the scan metrics
    for kind in dict.fromkeys(QUERY_MIX):
        param = params[kind][0]
        df = spark.sql(query_sql(kind, param)[0])
        results.append((kind, param, df.collect()))
        if tracer.enabled:
            files_read += _scan_files(df._jdf)
    # a fixed number of rounds, so every run times the same mix, and enough
    # of them for a p75
    n = len(QUERY_MIX) * max(math.ceil(P75_SAMPLES / len(QUERY_MIX)),
                             round(seconds / NOMINAL_ROUND_S))
    for i in range(n):
        kind = QUERY_MIX[i % len(QUERY_MIX)]
        param = rng.choice(params[kind])
        t_q = time.time()
        try:
            rows = spark.sql(query_sql(kind, param)[0]).collect()
        except Exception as e:  # a failed query is a failed operation
            failed.append(f"{kind}{param}: {type(e).__name__}: {e}")
            continue
        t_end = time.time()
        times[kind].append(t_end - t_q)
        tracer.add(f"query.{kind}", t_q, t_end, parent)
        results.append((kind, param, rows))
    return {"times": times, "failed": failed, "results": results, "register_s": register_s,
            "files_read": files_read, "attempted": n + len(set(QUERY_MIX))}


def check_queries(con, store: str, results: list) -> list[str]:
    """Every Spark result against DuckDB over the same parquet files."""
    con.sql(f"CREATE OR REPLACE VIEW v AS SELECT * FROM {_DUCK_STORE.format(store=store)}")
    expected: dict = {}
    failed = []
    for kind, param, rows in results:
        _, duck_sql, ordered = query_sql(kind, param)
        if (kind, param) not in expected:
            expected[kind, param] = _norm(con.sql(duck_sql).fetchall(), ordered)
        if not same_rows(_norm(rows, ordered), expected[kind, param]):
            failed.append(f"{kind}{param}: result differs from DuckDB")
    return failed


# ---------------------------------------------------------------------------
# layer legs (traced run only)
# ---------------------------------------------------------------------------

def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _count_expressions(plan, class_name: str) -> int:
    """Expressions of one class in a physical plan, over all its nodes."""
    n, nodes = 0, [plan]
    while nodes:
        node = nodes.pop()
        nodes += _seq(node.children())
        exprs = _seq(node.expressions())
        while exprs:
            e = exprs.pop()
            n += e.getClass().getSimpleName() == class_name
            exprs += _seq(e.children())
    return n


def _group_tasks(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks of the last job's final stage) run under a job group."""
    st = sc.statusTracker()
    jobs = sorted(st.getJobIdsForGroup(group))
    if not jobs:
        return 0, 0
    info = st.getJobInfo(jobs[-1])
    stage = st.getStageInfo(max(info.stageIds)) if info else None
    return len(jobs), stage.numTasks if stage else 0


def run_legs(spark, wl: Workload, files: list, out: str, reps: int, tracer: Tracer,
             parent, label: str) -> dict:
    """Time each layer's public function on its own over a cached copy of
    the workload's own input files: its decoder, the split and the sink."""
    from transitlog_hfp_sink_spark.sinks.parquet import write_vehicles_parquet
    from transitlog_hfp_sink_spark.sources.decode import decode_hfp_json
    from transitlog_hfp_sink_spark.sources.protowire import decode_hfp_wire
    from transitlog_hfp_sink_spark.transform import hfp_split

    # the decoder layer the input's encoding goes through
    decode, module = ((decode_hfp_wire, "protowire") if wl.encoding == "wire"
                      else (decode_hfp_json, "decode"))

    def read():
        return spark.read.parquet(*files) if wl.encoding == "wire" else spark.read.text(files)

    sc = spark.sparkContext
    # counted before anything is cached: a cached decode would stand in for
    # the from_json expressions of a plan that repeats it
    valid, _ = hfp_split(decode(read()))
    from_json = _count_expressions(valid._jdf.queryExecution().executedPlan(), "JsonToStructs")
    src = read().cache()
    rows = src.count()
    decoded = decode(src).cache()
    decoded.count()
    valid_c = hfp_split(decoded)[0].cache()
    n_valid = valid_c.count()
    n = {"sink": 0}

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def split() -> None:
        valid, dead = hfp_split(decoded)
        noop(valid)
        noop(dead)

    def sink() -> None:
        n["sink"] += 1
        write_vehicles_parquet(valid_c, os.path.join(out, f"sink-{label}-{n['sink']}"))

    legs = {
        module: (lambda: noop(decode(src)), rows),
        "transform": (split, rows),
        "sink": (sink, n_valid),
    }
    # the ingest before has warmed the JVM; a new context still has to
    # start its Python workers, which this tiny decode does
    decode(src.limit(10)).count()
    res = {}
    for layer, (fn, n_rows) in legs.items():
        group = f"{label}.{layer}"
        sc.setJobGroup(group, group)
        secs = []
        for _ in range(reps):
            with tracer.span(f"leg.{layer}", parent) as sid:
                t0 = time.time()
                fn()
                secs.append(time.time() - t0)
            if sid is not None:
                tracer.spans[sid].update(rows=n_rows, cores=label)
        sc.setJobGroup("", "")
        res["decoder" if layer == module else layer] = {
            "rows_per_s": n_rows / median(secs), "tasks": _group_tasks(sc, group)[1]}
    res["invalid_rows"] = decoded.where("NOT schema_valid").count()
    res["from_json_per_plan"] = from_json
    valid, dead = hfp_split(decoded)
    res["valid_rows"] = valid.count()
    res["dead_rows"] = dict(dead.groupBy("reject_reason").count().collect())
    for df in (src, decoded, valid_c):
        df.unpersist()
    return res


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def setup(work: str, wl: Workload, warm: Inputs, i: int, tracer: Tracer, parent):
    """Session start plus one warm-up micro-batch through the pipeline."""
    t0 = time.time()
    spark = start_session(work, CORES)
    t1 = time.time()
    res = ingest(spark, wl, warm, os.path.join(work, f"warmup-{i}"), time.time() + INGEST_TIMEOUT_S,
                 Tracer(False), None)
    if res["error"]:
        raise RuntimeError(f"warm-up failed: {res['error']}")
    t2 = time.time()
    tracer.add("session.start", t0, t1, parent)
    tracer.add("session.warmup", t1, t2, parent)
    return spark, t1 - t0, t2 - t1


def ms_p(batches, key: str, p: float) -> float:
    return percentile([b["durationMs"].get(key, 0) for b in batches], p)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    become_subreaper()
    # a SIGTERM unwinds like an exception, so the finally below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(BUILD, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        stop_jvm()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    wl = WORKLOADS[args.workload]
    traced = args.trace == 1
    run_start = time.time()
    prepare_env(work)
    import duckdb  # fail before any work when it is missing
    import transitlog_hfp_sink_spark  # noqa: F401

    phases: dict[str, float] = {}
    mark = [time.time()]

    def lap(name: str) -> None:
        now = time.time()
        phases[name] = now - mark[0]
        mark[0] = now

    ctx = get_context("spawn")
    with ProcessPoolExecutor(max_workers=CORES, mp_context=ctx) as pool:
        inputs = generate(args.seed, wl, args.seconds, os.path.join(work, "input"), pool)
        warm_wl = Workload(**{**wl.__dict__, "rows_per_file": WARMUP_ROWS,
                              "files_per_trigger": WARMUP_FILES})
        warm_names = [f"part-{i:05d}.{_ext(wl.encoding)}" for i in range(WARMUP_FILES)]
        warm_src = os.path.join(work, "warm-input")
        os.makedirs(warm_src)
        warm_truths = [pool.submit(gen.make_file, args.seed + 1_000_003, VEHICLES, i,
                                   i * WARMUP_ROWS, WARMUP_ROWS, wl.encoding,
                                   os.path.join(warm_src, n)).result()
                       for i, n in enumerate(warm_names)]
    warm = Inputs(warm_names, warm_truths, warm_src, None)
    # the legs run over one batch's worth of the workload's own files
    leg_k = wl.files_per_trigger or round(TRIGGER_S * wl.rate / wl.rows_per_file)
    leg_files = [os.path.join(inputs.src, n) for n in inputs.names[:leg_k]]
    lap("generate")

    truth = gen.Truth()
    for t in inputs.truths:
        truth.add(t)
    tracer = Tracer(traced)
    run_sid = tracer.open("run")
    wl_sid = tracer.open(f"workload.{args.workload}", run_sid)
    failed: list[str] = []
    starts, warms = [], []
    for i in range(SETUPS):
        spark, s, w = setup(work, warm_wl, warm, i, tracer, run_sid)
        starts.append(s)
        warms.append(w)
        if i < SETUPS - 1:
            spark.stop()
    lap("setup")
    # peak memory covers the measured work, ingest and queries, not the
    # one-off context restarts of the set-ups, nor the DuckDB checks that
    # run in this process afterwards
    with RssSampler() as rss:
        ingest_s = args.seconds * wl.ingest_share
        untraced = []
        if traced:  # the same ingest untraced before and after, to price the tracing
            untraced.append(ingest(spark, wl, inputs, os.path.join(work, "untraced-0"),
                                   time.time() + INGEST_TIMEOUT_S, Tracer(False), None))
        res = ingest(spark, wl, inputs, os.path.join(work, "ingest"), time.time() + INGEST_TIMEOUT_S,
                     tracer, wl_sid)
        if traced:
            untraced.append(ingest(spark, wl, inputs, os.path.join(work, "untraced-1"),
                                   time.time() + INGEST_TIMEOUT_S, Tracer(False), None))
        batches = res["batches"]
        lap("ingest")
        q = run_queries(spark, res["store"], truth.keys, args.seconds - ingest_s, args.seed,
                        tracer, wl_sid)
        lap("queries")
    con = duckdb.connect()
    con.sql("SET threads = 2")
    want = {"rows": truth.rows, "stored": truth.valid, "dead": truth.dead,
            "digest": gen.key_digest(truth.keys)}
    # every ingest counts, the untraced ones of a traced run too
    for r in [res] + untraced:
        if r["error"]:
            failed.append(f"ingest: {r['error']}")
        try:
            failed += [f"ingest: {m}"
                       for m in reconcile(want, read_back(con, r["store"], r["dead"]))]
        except duckdb.Error as e:  # nothing readable was committed
            failed.append(f"store unreadable: {e}")
    try:
        failed += q["failed"] + check_queries(con, res["store"], q["results"])
    except duckdb.Error as e:
        failed.append(f"store unreadable: {e}")
    lap("check")
    legs = legs1 = None
    if traced:
        legs = run_legs(spark, wl, leg_files, work, LEG_REPS, tracer, run_sid, f"local{CORES}")
        spark.stop()
        spark = start_session(work, 1)
        legs1 = run_legs(spark, wl, leg_files, work, 1, tracer, run_sid, "local1")
        lap("legs")
    stop_jvm()
    lap("stop")
    tracer.close(wl_sid)
    tracer.close(run_sid)
    con.close()

    files, size = store_layout(res["store"])
    qtimes = [t for ts in q["times"].values() for t in ts]
    attempted = sum(len(r["batches"]) for r in [res] + untraced) + q["attempted"]
    setup_s = median([s + w for s, w in zip(starts, warms)]) + q["register_s"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "ingest_rows_per_s": (res["rows_per_s"], "rows/s"),
        "freshness_p50_s": (percentile(res["freshness"], 50), "s"),
        "freshness_p90_s": (percentile(res["freshness"], 90), "s"),
        "query_p50_s": (percentile(qtimes, 50), "s"),
        "query_p75_s": (percentile(qtimes, 75), "s"),
        "store_bytes_per_row": (size / max(1, truth.valid), "B/row"),
    }
    peak_rss = (rss.peak / 2**20, "MB")
    offered = f", offered at {wl.rate} msg/s" if inputs.interval_s is not None else ""
    print(f"workload {args.workload} seed {args.seed}: {truth.rows} messages in "
          f"{len(inputs.names)} files{offered}, {len(batches)} batches, {len(qtimes)} queries, "
          f"{time.time() - run_start:.1f} s wall")
    for name, (v, unit) in e2e.items():
        print(f"  {name:<22} {v:>14.4f} {unit}")
    print(f"  {'peak_rss_mb':<22} {peak_rss[0]:>14.4f} {peak_rss[1]} (per-layer: memory.peak_rss_mb)")
    print(f"  {'error_rate':<22} {len(failed) / attempted:>14.4f} "
          f"({len(failed)} failed of {attempted} operations: batches and queries)")
    n_f, n_q = len(res["freshness"]), len(qtimes)
    print(f"  samples: freshness {n_f} files (p{reportable_percentile(n_f)} reportable), "
          f"queries {n_q} (p{reportable_percentile(n_q)} reportable)")
    print("  phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    print("  batches (rows/ms): " + ", ".join(
        f"{p['numInputRows']}/{p['durationMs']['triggerExecution']}" for p in batches))
    print("  set-ups (start + warm-up): " + ", ".join(f"{s:.2f} + {w:.2f} s" for s, w in zip(starts, warms))
          + f"; register_catalog {q['register_s']:.2f} s")
    for kind, ts in q["times"].items():
        print(f"  query {kind:<18} p50 {median(ts):.4f} s over {len(ts)}")
    for m in failed:
        print(f"  FAILED {m}")

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    if traced:
        per_layer = layer_metrics(wl, res, untraced, q, legs, legs1, starts, warms,
                                  files, hour_partitions(res["store"]), tracer)
        per_layer["memory.peak_rss_mb"] = peak_rss
        for name, (v, unit) in per_layer.items():
            print(f"  {name:<44} {v:>14.4f} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        tracer.dump(os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": min(len(failed), attempted), "metrics": metrics}))
    return 0


def layer_metrics(wl, res, untraced, q, legs, legs1, starts, warms, files, hours, tracer) -> dict:
    batches = res["batches"]
    sink_s = {b: e - s for b, (s, e) in res["sink_times"].items()}
    dead_letter = [p["durationMs"]["addBatch"] / 1000 - sink_s[p["batchId"]]
                   for p in batches if p["batchId"] in sink_s]
    m = {
        "session.start_s": (median(starts), "s"),
        "session.warmup_s": (median(warms), "s"),
        # the workload's own decoder: sources.protowire for wire frames,
        # sources.decode for JSON
        "decoder.rows_per_s": (legs["decoder"]["rows_per_s"], "rows/s"),
        "decoder.tasks": (legs["decoder"]["tasks"], "count"),
        "decoder.speedup": (legs["decoder"]["rows_per_s"] / legs1["decoder"]["rows_per_s"], "x"),
        "decoder.invalid_rows": (legs["invalid_rows"], "count"),
        "decoder.from_json_per_plan": (legs["from_json_per_plan"], "count"),
        "transform.split_rows_per_s": (legs["transform"]["rows_per_s"], "rows/s"),
        "transform.speedup": (legs["transform"]["rows_per_s"] / legs1["transform"]["rows_per_s"], "x"),
        "transform.valid_rows": (legs["valid_rows"], "count"),
        "transform.dead_rows.invalid_protobuf_schema":
            (legs["dead_rows"].get(gen.REASON_SCHEMA, 0), "count"),
        "transform.dead_rows.unparseable_tst": (legs["dead_rows"].get(gen.REASON_TST, 0), "count"),
        "sink.parquet_rows_per_s": (legs["sink"]["rows_per_s"], "rows/s"),
        "sink.speedup": (legs["sink"]["rows_per_s"] / legs1["sink"]["rows_per_s"], "x"),
        "sink.write_tasks": (legs["sink"]["tasks"], "count"),
        "sink.write_s_per_batch_p50": (median(list(sink_s.values())), "s"),
        "sink.files_per_hour": (files / max(1, hours), "files/h"),
    }
    for key in ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
                "commitOffsets", "triggerExecution"):
        m[f"pipeline.{key}_p50_ms"] = (ms_p(batches, key, 50), "ms")
    # a run has 5 to about 13 batches, too few for a p90; the slowest batch stands in
    m["pipeline.addBatch_max_ms"] = (ms_p(batches, "addBatch", 100), "ms")
    m["pipeline.dead_letter_s_per_batch"] = (median(dead_letter), "s")
    m["pipeline.jobs_per_batch"] = (median(list(res["jobs"].values())), "count")
    m["pipeline.backlog_files_max"] = (res["backlog_max"], "count")
    for kind in ("hour_window", "vehicle_day", "latest_positions", "hourly_rollup"):
        m[f"query.{kind}_p50_s"] = (median(q["times"][kind]), "s")
    m["query.files_read"] = (q["files_read"], "count")
    m["catalog.register_s"] = (q["register_s"], "s")
    m["loadgen.late_p90_s"] = (percentile(res["late"], 90) if res["late"] else 0.0, "s")
    m["trace.spans"] = (len(tracer.spans), "count")
    # traced minus the mean of the untraced runs just before and after it
    m["trace.overhead_ingest_rows_per_s"] = (
        res["rows_per_s"] - sum(u["rows_per_s"] for u in untraced) / len(untraced), "rows/s")
    m["trace.overhead_freshness_p50_s"] = (
        percentile(res["freshness"], 50)
        - sum(percentile(u["freshness"], 50) for u in untraced) / len(untraced), "s")
    return m


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
