"""The benchmark workloads, ``corpus_dedup`` and ``stream_ingest``.

Every layer is reached from outside, through its public entry point:
``session.get_spark``, ``sources.load_table``, ``Pipeline.from_dict`` /
``Pipeline.run_on``, ``QUERIES[name](spark, dir)`` (construction, which
includes eager index pins and metadata jobs), the action or sink
(execution), and streaming readers/writers driven the way
``stream_spark.streaming`` drives them.
"""

from __future__ import annotations

import bisect
import itertools
import math
import os
import shutil
import statistics
import subprocess
import threading
import time
import traceback

from perfbench import gen
from perfbench.oracle import STREAM_ORACLE, Oracle, mismatch
from perfbench.trace import (
    ProgressListener,
    RssSampler,
    Tracer,
    median,
    percentile,
    progress_time_s,
    read_event_log,
    streaming_layers,
    summary,
)

SETUP_ROUNDS = 3
OP_TIMEOUT_S = 90.0
# corpus_dedup: timed passes at the least, whatever --seconds says; a pass
# is about as long as the usual --seconds, and one pass alone rests the
# gated pass wall on a single sample
MIN_PASSES = 2

# documents per corpus; "tiny" is the smoke-test scale
SCALES = {"full": 5_000, "tiny": 400}

WORKLOADS = {
    "corpus_dedup": [
        "dedup_minhash_lsh",
        "dedup_clusters_banded",
        "dedup_keep_best_quality_banded",
        "dedup_index_update",
        "streaming_dedup_index_maintain",
    ],
    "stream_ingest": [],
}

ALL_QUERIES = [q for qs in WORKLOADS.values() for q in qs]

# stream_ingest: the reference's filter -> grouped time-tumbling pipeline as
# a flogo DSL config, over 10 s event-time windows under a 5 s watermark;
# generated events lag at most 2 s, so none is dropped and the result is exact
STREAM_WINDOW_MS = 10_000
STREAM_WATERMARK = "5 seconds"
STREAM_PIPELINE = {
    "name": "stream_ingest",
    "source": {"table": "events"},
    "stages": [
        {"type": "filter", "settings": {"type": "non-zero", "column": "value"}},
        {
            "type": "aggregate",
            "settings": {
                "function": "sum", "windowType": "timeTumbling", "windowSize": STREAM_WINDOW_MS,
                "value": "value", "groupBy": ["event_type"],
            },
        },
        {"type": "map", "settings": {"exprs": {"window_start_ms": "unix_millis(CAST(window_start AS TIMESTAMP))"}}},
        {"type": "select", "settings": {"columns": ["event_type", "window_start_ms", "result"]}},
    ],
}
ROWS_PER_FILE = 250  # one generator tick = one parquet file of this many events
DRAIN = {"full": (300, 50), "tiny": (40, 10)}  # backlog files, maxFilesPerTrigger
# untimed drains before the timed ones: in one session a drain's wall keeps
# falling over about the first 25 s of streaming work (seven drains) as the
# JVM warms up; the warm-up drains and the ladder, run before the timed
# drains, cover that
WARM_DRAINS = 3
DRAINS = 5
# (rate events/s, share of --seconds), run back to back by one query; the
# first rung is the nominal rate, the rest climb geometrically (about 1.6x)
# across the knee of a 4-core host
LADDER = [(10_000, 0.5), (30_000, 0.25), (50_000, 0.25), (80_000, 0.25), (130_000, 0.25)]
LATENCY_LIMIT_MS = 2500.0
TAIL_TIMEOUT_S = 30.0


class Run:
    """State of one benchmark invocation."""

    def __init__(self, workload, seed, seconds, trace, cores, scale, work):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cores, self.scale, self.work = cores, scale, work
        self.spark = None
        self.tracer = Tracer()
        self.listener = None
        self.attempted = 0
        self.failures: dict[str, str] = {}  # failed operation -> first reason
        self.report: dict = {}
        self.layers: dict = {}
        self.peak_rss_mb = 0.0
        self.event_log_dir = os.path.join(work, "eventlog")

    # -- bookkeeping -------------------------------------------------------
    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is a measured outcome
            self.fail(what, f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:200]}")
            traceback.print_exc()
            return None

    def fail(self, what: str, why: str) -> None:
        self.failures.setdefault(what, why)

    def check(self, what: str, result, expected) -> None:
        problem = mismatch(result, expected)
        if problem:
            self.fail(what, f"mismatch: {problem}")

    # -- session -----------------------------------------------------------
    def start_session(self, traced: bool = False) -> float:
        """(Re)start the Spark session through ``session.get_spark`` and
        register the benchmark's streaming listener; a traced session also
        writes a plain event log. Returns the start time in s."""
        from pyspark import SparkContext

        from stream_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if traced:  # a new SparkContext reads spark.* system properties of the live JVM
            os.makedirs(self.event_log_dir, exist_ok=True)
            for k, v in trace_conf(self.event_log_dir).items():
                SparkContext._jvm.java.lang.System.setProperty(k, v)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark if traced else None)
        # every progress record of every query, which ``recentProgress``
        # (capped at numRecentProgressUpdates) does not guarantee
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)
        return elapsed

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:  # a JVM that ignores shutdown is killed
                    proc.kill()
                    proc.wait(timeout=10)

    def with_timeout(self, fn):
        """Run ``fn``; cancel every Spark job and stream if it exceeds
        ``OP_TIMEOUT_S`` (the call then raises and counts as failed)."""
        done = threading.Event()
        spark = self.spark

        def watchdog():
            if not done.wait(OP_TIMEOUT_S):
                for q in spark.streams.active:
                    q.stop()
                spark.sparkContext.cancelAllJobs()

        t = threading.Thread(target=watchdog, daemon=True)
        t.start()
        try:
            return fn()
        finally:
            done.set()
            t.join()

    def trace_layers(self) -> None:
        """Read the traced session's event log (after stopping it)."""
        app_id = self.spark.sparkContext.applicationId
        listener_progress = self.listener.take()
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        self.spark = None
        log = read_event_log(self.event_log_dir, app_id, self.tracer)
        self.layers.update(log["totals"])
        for op, vals in log["per_op"].items():
            for k, v in vals.items():
                self.layers[f"op.{op}.{k}"] = v
        for op, phase, t0, t1 in self.tracer.spans:
            if op in ALL_QUERIES:
                key = f"op.{op}.{phase}_s"
                self.layers[key] = self.layers.get(key, 0.0) + (t1 - t0)
        if listener_progress:
            self.layers.update(streaming_layers(listener_progress))


def trace_conf(log_dir: str) -> dict:
    """Event-log settings of the traced session: one plain JSON-lines file
    (Spark 4's default log is a compressed rolling directory)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
        "spark.eventLog.logStageExecutorMetrics": "true",
        "spark.executor.metrics.pollingInterval": "100ms",
    }


# ---------------------------------------------------------------------------
# corpus_dedup


def _setup(run: Run, n: int, sf_dir: str) -> dict:
    """Cold session start (the JVM launch a user pays, timed once), then
    input generation and staging ``SETUP_ROUNDS`` times in that session."""
    from stream_spark.sources import load_table

    session_s = run.start_session()
    rounds, params = [], None
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        tbl, params = gen.documents_table(run.seed, n)
        gen.write_table(tbl, sf_dir, "documents")
        t1 = time.perf_counter()
        load_table(run.spark, sf_dir, "documents").schema  # noqa: B018 - staging: resolve the scan
        t2 = time.perf_counter()
        rounds.append({"gen_s": t1 - t0, "load_s": t2 - t1, "total_s": t2 - t0})
    return {"session_s": session_s, "rounds": rounds, "params": params}


def _one_pass(run: Run, queries: list[str], sf_dir: str, expected: dict, tag: str) -> dict:
    """Construct, execute and check every query once, in order. Returns
    each query's wall (its check excluded)."""
    from stream_spark.queries import QUERIES

    walls = {}
    for q in queries:
        def op(q=q):
            with run.tracer.span(q, "construct"):
                df = QUERIES[q](run.spark, sf_dir)
            with run.tracer.span(q, "execute"):
                return df.toArrow()

        t0 = time.perf_counter()
        result = run.attempt(f"{tag} {q}", lambda op=op: run.with_timeout(op))
        for sq in run.spark.streams.active:  # reap a stream an op left running
            sq.stop()
        walls[q] = time.perf_counter() - t0
        if result is not None:
            run.check(f"{tag} {q}", result, expected[q])
    return walls


def run_batch(run: Run) -> None:
    from stream_spark.queries import ORACLES

    queries = WORKLOADS[run.workload]
    n = SCALES[run.scale]
    sf_dir = os.path.join(run.work, "data")

    setup = _setup(run, n, sf_dir)
    # the reference answers, once per seed and outside every timed window
    t_oracle = time.perf_counter()
    oracle = Oracle(sf_dir, ["documents"], run.cores, os.path.join(run.work, "duckdb"))
    expected = {q: oracle.answer(ORACLES[q]) for q in queries}
    oracle.close()
    oracle_s = time.perf_counter() - t_oracle
    # warm-up: one untimed (but checked) pass over the input
    t_warm = time.perf_counter()
    _one_pass(run, queries, sf_dir, expected, "warm-up")
    warm_s = time.perf_counter() - t_warm
    staging_s = median([r["total_s"] for r in setup["rounds"]])
    setup_s = setup["session_s"] + staging_s + warm_s

    walls, op_walls = [], {q: [] for q in queries}
    t_meas = time.perf_counter()
    for i in itertools.count():
        before = len(run.failures)
        pass_walls = _one_pass(run, queries, sf_dir, expected, f"pass{i}")
        wall = sum(pass_walls.values())
        if len(run.failures) == before:  # only complete, checked passes are timed
            walls.append(wall)
            for q, w in pass_walls.items():
                op_walls[q].append(w)
        # passes are whole: after MIN_PASSES, stop once the next would likely
        # end more than half a pass past --seconds; a traced run times one
        # untraced pass, as the base of the tracing overhead
        if run.trace or (i + 1 >= MIN_PASSES and time.perf_counter() - t_meas + wall / 2 > run.seconds):
            break
    wall_med = median(walls) if walls else math.nan
    # closed loop: one client issues the queries back to back; a query's
    # latency is its wall, and every input record is in the result once the
    # pass's whole query set has completed
    lat_ms = [w * 1000 for ws in op_walls.values() for w in ws]
    run.report.update(
        setup_s=setup_s,
        setup_detail={
            "session_s": setup["session_s"], "rounds": setup["rounds"], "warm_up_s": warm_s, "oracle_s": oracle_s,
        },
        generator=setup["params"],
        input_records=n,
        op_walls_s=op_walls,
        metrics={
            "batch_wall_s": {**summary(walls), "value": wall_med, "unit": "s"},
            "docs_per_s": {"value": n / wall_med, "unit": "docs/s"},
            "op_latency_ms": {**summary(lat_ms), "value": median(lat_ms), "unit": "ms"},
        },
        e2e={
            "batch_wall_s": wall_med,
            "latency_p50_ms": median(lat_ms) if lat_ms else math.nan,
            "latency_p99_ms": percentile(lat_ms, 0.99) if lat_ms else math.nan,
        },
    )

    if run.trace:
        run.start_session(traced=True)
        traced_wall = sum(_one_pass(run, queries, sf_dir, expected, "traced").values())
        run.layers["trace.wall_s"] = traced_wall
        run.layers["trace.overhead_s"] = traced_wall - wall_med
        run.trace_layers()
    run.layers["session.start_s"] = setup["session_s"]
    run.layers["sources.load_s"] = median([r["load_s"] for r in setup["rounds"]])


# ---------------------------------------------------------------------------
# stream_ingest


class StreamRig:
    """One streaming query of the flogo pipeline over a parquet directory,
    into a foreachBatch sink that keeps the latest value of every window
    (update mode: a window's last emitted value is its final value)."""

    def __init__(self, run: Run, name: str, max_files: int | None = None, input_dir: str | None = None):
        from stream_spark.pipeline import Pipeline

        self.run = run
        self.dir = os.path.join(run.work, "stream", name)
        self.input = input_dir or os.path.join(self.dir, "in")
        os.makedirs(self.input, exist_ok=True)
        self.result: dict = {}
        reader = run.spark.readStream.schema(gen.STREAM_SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        source = reader.parquet(self.input).withWatermark("ts", STREAM_WATERMARK)
        with run.tracer.span("pipeline", "compile"):
            t0 = time.perf_counter()
            self.out = Pipeline.from_dict(STREAM_PIPELINE).run_on(source, run.spark)
            self.compile_s = time.perf_counter() - t0

    def _sink(self, batch_df, batch_id):
        for r in batch_df.collect():
            self.result[(r["event_type"], r["window_start_ms"])] = r["result"]

    def start(self, **trigger):
        return (
            self.out.writeStream.foreachBatch(self._sink)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(self.dir, "checkpoint"))
            .trigger(**trigger)
            .start()
        )

    def stage(self, tables) -> None:
        for k, t in enumerate(tables):
            gen.write_file(t, os.path.join(self.input, f"tick-{k:06d}.parquet"))

    def remove(self) -> None:
        """Delete the query's own files (checkpoint, and input unless
        shared) while they are young: on a disk mounted with online discard,
        unlinking a file that has been written back costs milliseconds, and
        a run leaves thousands of them."""
        shutil.rmtree(self.dir, ignore_errors=True)

    def expected(self):
        """The reference answer: a DuckDB batch query over the input files."""
        oracle = Oracle(self.input, [], self.run.cores, os.path.join(self.run.work, "duckdb"))
        expected = oracle.answer(
            STREAM_ORACLE.format(size_ms=STREAM_WINDOW_MS, glob=os.path.join(self.input, "*.parquet"))
        )
        oracle.close()
        return expected

    def check(self, what: str, expected=None) -> None:
        import pandas as pd

        if expected is None:
            expected = self.expected()
        got = pd.DataFrame(
            [(k[0], k[1], v) for k, v in self.result.items()],
            columns=["event_type", "window_start_ms", "result"],
        ).astype({"window_start_ms": "int64", "result": "float64"})
        self.run.check(what, got, expected)


def _ticks(run: Run, n_files: int, start_id: int) -> list:
    tbl, params = gen.stream_events(run.seed, n_files * ROWS_PER_FILE, start_id=start_id)
    run.report.setdefault("generator", {})[f"events from id {start_id}"] = {**params, "rows_per_file": ROWS_PER_FILE}
    return [tbl.slice(k * ROWS_PER_FILE, ROWS_PER_FILE) for k in range(n_files)]


def _drain(run: Run, name: str, backlog: tuple, max_files: int) -> float:
    """Closed loop: drain the staged backlog (its directory and reference
    answer) through the pipeline with an availableNow trigger, from a fresh
    checkpoint. Returns the wall from start to termination."""
    input_dir, expected = backlog
    rig = StreamRig(run, name, max_files, input_dir)
    with run.tracer.span(name, "drain"):
        t0 = time.perf_counter()
        q = rig.start(availableNow=True)
        finished = q.awaitTermination(OP_TIMEOUT_S)
        wall = time.perf_counter() - t0
    if not finished:
        q.stop()
        raise TimeoutError(f"{name}: drain still running after {OP_TIMEOUT_S}s")
    rig.check(name, expected)
    rig.remove()
    return wall


def _rows(progress: list[dict]) -> int:
    return sum(p["numInputRows"] for p in progress)


def _ladder(run: Run, name: str, rungs: list[tuple[int, float]], start_id: int, climb_all: bool) -> list[dict]:
    """Open loop: one streaming query on a processing-time trigger, fed by
    a generator thread that writes one file per tick at each rung's rate
    (events/s) for that rung's duration (s), the rungs back to back. An
    event's latency runs from its tick's due time to the commit of the
    micro-batch that read its file; each rung is judged on its own files.
    Unless ``climb_all``, the generator stops at the end of a rung once the
    oldest file not yet committed has waited longer than the latency limit,
    as every higher rung would then fail too."""
    sizes = [max(2, int(rate * dur / ROWS_PER_FILE)) for rate, dur in rungs]
    ticks = _ticks(run, sum(sizes), start_id=start_id)
    offsets, t = [], 0.0  # each file's due time, relative to the first
    for (rate, _), n in zip(rungs, sizes):
        offsets += [t + k * ROWS_PER_FILE / rate for k in range(n)]
        t += n * ROWS_PER_FILE / rate
    rung_starts = set(itertools.accumulate(sizes[:-1]))
    rig = StreamRig(run, name)
    q = rig.start(processingTime="0 seconds")
    run_id = str(q.runId)
    due, written = [], []
    gen_error = []

    def overloaded() -> bool:
        committed = _rows(run.listener.progress_of(run_id)) // ROWS_PER_FILE
        return committed < len(due) and time.time() - due[committed] > LATENCY_LIMIT_MS / 1000

    def generator(t0):
        try:
            for k, tbl in enumerate(ticks):
                if k in rung_starts and not climb_all and overloaded():
                    break
                td = t0 + offsets[k]
                pause = td - time.time()
                if pause > 0:
                    time.sleep(pause)
                gen.write_file(tbl, os.path.join(rig.input, f"tick-{k:06d}.parquet"))
                due.append(td)
                written.append(time.time())
        except Exception as e:  # noqa: BLE001 - reported by the caller
            gen_error.append(e)

    try:
        with run.tracer.span(name, "ladder"):
            t_start = time.time() + 0.5  # let the query's first idle trigger pass
            g = threading.Thread(target=generator, args=(t_start,), name="generator")
            g.start()
            g.join()
            total = len(due) * ROWS_PER_FILE
            deadline = time.time() + TAIL_TIMEOUT_S
            while _rows(run.listener.progress_of(run_id)) < total and time.time() < deadline:
                time.sleep(0.05)
    finally:
        q.stop()
    if gen_error:
        raise gen_error[0]
    progress = run.listener.progress_of(run_id)
    consumed = _rows(progress)
    if consumed < total:
        raise TimeoutError(f"{name}: {consumed}/{total} events read {TAIL_TIMEOUT_S}s after the generator stopped")
    rig.check(name)
    rig.remove()
    # files are read in name order: batch commits map to file ranges
    commit_of, commits, cum = [], [], 0
    for p in sorted((p for p in progress if p["numInputRows"] > 0), key=lambda p: p["batchId"]):
        commit = progress_time_s(p) + p["durationMs"]["triggerExecution"] / 1000
        cum += p["numInputRows"]
        if cum % ROWS_PER_FILE:
            raise ValueError(f"{name}: batch {p['batchId']} read a partial file")
        commit_of += [commit] * (cum // ROWS_PER_FILE - len(commit_of))
        commits.append((commit, cum // ROWS_PER_FILE))
    # backlog: files due minus files committed
    backlog_at = lambda t: bisect.bisect_right(due, t) - max((f for c, f in commits if c <= t), default=0)  # noqa: E731
    results, lo = [], 0
    for (rate, dur), n in zip(rungs, sizes):
        hi = lo + n
        if hi > len(due):  # not reached
            break
        t0, t1 = due[lo], due[hi - 1] + ROWS_PER_FILE / rate
        lat = [(commit_of[k] - due[k]) * 1000 for k in range(lo, hi)]
        # in a rung of a few batches a growing backlog shows as latency past
        # the limit; the fitted slope is reported, not judged, as it mostly
        # measures the backlog's rise to the new rate's steady state
        samples = [(c, backlog_at(c)) for c, _ in commits if t0 <= c <= t1]
        slope = statistics.linear_regression(*zip(*samples)).slope if len(samples) > 2 else 0.0
        p99 = percentile(lat, 0.99)
        results.append({
            "rate": rate,
            "achieved_eps": n * ROWS_PER_FILE / max(1e-9, written[hi - 1] - due[lo] + ROWS_PER_FILE / rate),
            # what the query read per second, first file due to last commit
            "consumed_eps": n * ROWS_PER_FILE / max(1e-9, commit_of[hi - 1] - due[lo]),
            "seconds": dur,
            "events": n * ROWS_PER_FILE,
            "batches": len(samples),
            "latency_ms": summary(lat),
            "p50_ms": median(lat),
            "p99_ms": p99,
            "backlog_files": backlog_at(t1),
            "backlog_slope_files_per_s": slope,
            "gen_late_ms": [(written[k] - due[k]) * 1000 for k in range(lo, hi)],
            "passes": p99 <= LATENCY_LIMIT_MS,
        })
        lo = hi
    return results


def max_rate(rungs: list) -> float:
    """Highest sustainable rate on the ladder: the rate at which p99
    latency reaches the limit, interpolated log-log between the last
    passing rung and the first failing one; the top rung's rate when every
    rung passes; the nominal rung's measured consumption rate when even it
    fails."""
    ok = next((i for i, r in enumerate(rungs) if not (r and r["passes"])), len(rungs))
    if ok == 0:
        return rungs[0]["consumed_eps"] if rungs and rungs[0] else math.nan
    lo = rungs[ok - 1]
    hi = rungs[ok] if ok < len(rungs) else None
    if hi is None:
        return lo["achieved_eps"]
    share = math.log(LATENCY_LIMIT_MS / lo["p99_ms"]) / math.log(hi["p99_ms"] / lo["p99_ms"])
    return math.exp(math.log(lo["achieved_eps"]) + share * math.log(hi["achieved_eps"] / lo["achieved_eps"]))


def run_stream(run: Run) -> None:
    n_backlog, max_files = DRAIN[run.scale]
    # cold session start (timed once), then generating the backlog,
    # compiling the pipeline and staging the files, SETUP_ROUNDS times
    session_s = run.start_session()
    # every drain reads the one staged backlog
    rounds, rig = [], None
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        ticks = _ticks(run, n_backlog, start_id=0)
        shutil.rmtree(os.path.join(run.work, "stream"), ignore_errors=True)
        rig = StreamRig(run, "backlog", max_files, os.path.join(run.work, "stream", "backlog"))
        rig.stage(ticks)
        rounds.append({"compile_s": rig.compile_s, "total_s": time.perf_counter() - t0})
    # the reference answer, once per seed and outside every timed window
    backlog = (rig.input, rig.expected())
    # warm-up: drains of the backlog, then a short nominal-rate rung
    t_warm = time.perf_counter()
    for i in range(WARM_DRAINS):
        run.attempt(f"warm-up drain{i}", lambda i=i: _drain(run, f"drain_warm{i}", backlog, max_files))
    run.attempt("warm-up ladder", lambda: _ladder(run, "ladder_warm", [(LADDER[0][0], 1.5)], 1, True))
    warm_s = time.perf_counter() - t_warm
    setup_s = session_s + median([r["total_s"] for r in rounds]) + warm_s

    # the ladder first: its streaming work also takes the drains past the
    # end of the JVM's warm-up; a traced run times the nominal rung
    # untraced and climbs the whole ladder traced
    ladder = [(rate, share * run.seconds) for rate, share in LADDER]
    rungs = run.attempt("ladder", lambda: _ladder(run, "ladder", ladder[:1] if run.trace else ladder, 2, False))
    rungs = rungs or [None]
    drains = []
    for i in range(1 if run.trace else DRAINS):
        wall = run.attempt(f"drain{i}", lambda i=i: _drain(run, f"drain{i}", backlog, max_files))
        if wall is not None:
            drains.append(wall)
    events = n_backlog * ROWS_PER_FILE
    drain_med = median(drains) if drains else math.nan
    nominal = rungs[0]
    max_eps = max_rate(rungs)
    late = [x for r in rungs if r for x in r["gen_late_ms"]]
    nominal_lat = nominal["latency_ms"] if nominal else summary([])
    nominal_p99 = nominal["p99_ms"] if nominal else math.nan
    run.report.update(
        setup_s=setup_s,
        setup_detail={"session_s": session_s, "rounds": rounds, "warm_up_s": warm_s},
        rungs=[{k: v for k, v in r.items() if k not in ("gen_late_ms", "latency_ms")} if r else None for r in rungs],
        latency_limit_ms=LATENCY_LIMIT_MS,
        input_records=events,
        metrics={
            "batch_wall_s": {**summary(drains), "value": drain_med, "unit": "s"},
            "stream_drain_eps": {**summary([events / d for d in drains]), "value": events / drain_med, "unit": "events/s"},
            "stream_p50_ms": {**nominal_lat, "value": nominal_lat["median"], "unit": "ms"},
            "stream_p99_ms": {**nominal_lat, "value": nominal_p99, "unit": "ms"},
            "stream_max_eps": {"value": max_eps, "unit": "events/s", "ladder": [r for r, _ in LADDER]},
            "gen_late_p99_ms": {**summary(late), "value": percentile(late, 0.99), "unit": "ms"},
        },
        e2e={
            "batch_wall_s": drain_med,
            "latency_p50_ms": nominal_lat["median"] if nominal else math.nan,
            "latency_p99_ms": nominal_p99,
        },
    )
    run.layers["session.start_s"] = session_s
    run.layers["pipeline.compile_s"] = median([r["compile_s"] for r in rounds])
    run.layers["streaming.gen_late_p99_ms"] = percentile(late, 0.99)

    if run.trace:
        run.start_session(traced=True)
        traced_wall = run.attempt("traced drain", lambda: _drain(run, "traced_drain", backlog, max_files))
        traced = run.attempt("traced ladder", lambda: _ladder(run, "traced_ladder", ladder, 2, True))
        for i, res in enumerate(traced or []):
            run.layers[f"streaming.backlog_files.rung{i}"] = res["backlog_files"]
        if traced_wall is not None and drains:
            run.layers["trace.wall_s"] = traced_wall
            run.layers["trace.overhead_s"] = traced_wall - drain_med
        run.trace_layers()


def run_workload(run: Run) -> None:
    t0 = time.perf_counter()
    with RssSampler() as rss:
        (run_stream if run.workload == "stream_ingest" else run_batch)(run)
    run.peak_rss_mb = rss.peak_bytes / 2**20
    run.report["workload_wall_s"] = time.perf_counter() - t0
