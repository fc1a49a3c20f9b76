"""Benchmark for the streaming engine at local[4]: event-to-commit latency,
catch-up rate, set-up time and memory on the engine's own partitioned log.

    python3 perfbench/run.py --workload log_etl --seed 1 --seconds 12 --trace 0

Workloads (perfbench/README.md says why each was chosen):

* ``log_etl``      SQL ``INSERT INTO out SELECT ... WHERE ...`` from a
                   ``SamzaLogSource`` stream into a 4-partition ``SamzaLogSink``.
* ``keyed_window`` DSL keyed tumbling window with an early count trigger
                   (``applyInPandasWithState``), panes into a ``SamzaLogSink``.

One query runs three phases: its first batch over a small log (set-up),
a backlog appended at once (catch-up), then a separate generator process
appending at a fixed rate while the benchmark times every event from its
due time to the end of the trigger that committed it. Outputs are checked
against inputs regenerated from the seed. With ``--trace 1`` the run also
keeps spans and the Spark event log, repeats the catch-up at local[1], and
prints the per-layer metrics instead of the end-to-end ones.

The last stdout line is one JSON object with ``correct``, ``attempted`` and
``failed`` (checks) and ``metrics`` (``{name: {"value", "unit"}}``).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import collections  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# backlog: records appended at once after the set-up batch; cap:
# maxRecordsPerTrigger per input partition; rate: live events per second;
# local1_backlog: records drained by the local[1] baseline (traced run).
# Sized so that 4 + 22 x 2 runs fit the benchmark's time budget. The live
# rates keep a batch's time mostly per-batch fixed cost (perfbench/README.md).
WORKLOADS = {
    "log_etl": {"backlog": 60_000, "cap": 3_750, "rate": 2_000,
                "local1_backlog": 40_000},
    "keyed_window": {"backlog": 6_000, "cap": 2_500, "rate": 200,
                     "local1_backlog": 1_200},
}
WARMUP_S = 1.0  # live events due in the first WARMUP_S seconds are not timed
SETUP_RECORDS = 200
LATE_BOUND_MS = 500.0  # generator lateness past which a run is invalid
DEADLINE_S = 170.0  # a run that is not done this long after start fails

ETL_SQL = (
    "INSERT INTO out SELECT key, upper(value) AS value, timestamp_ms "
    "FROM events WHERE CAST(split(value, ':')[1] AS INT) < 60"
)
ETL_KEEP_BELOW = 60
WINDOW_MS = 5_000

E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
             "catchup_rps": "1/s", "peak_rss_mb": "MB"}


# -- environment ---------------------------------------------------------------


def host_stamp() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": os.cpu_count(), "loadavg": load}


def cpu_ticks() -> list[int]:
    """The first eight columns of the ``cpu`` line of ``/proc/stat``; the
    eighth is the time the hypervisor ran something else (steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_jvm() -> None:
    """End the driver JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def start_session(work: str, cores: int, event_log: str | None):
    from samza_spark.session import SessionConfig, get_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp  # gettempdir() caches its first answer
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    extra = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the whole heap is resident from the start, so the JVM's resident
        # peak does not depend on when G1 happens to touch new regions
        "spark.driver.extraJavaOptions":
            f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.driver.memory": "1g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.eventLog.enabled": str(event_log is not None).lower(),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        # uncompressed: there is no zstandard module to read the default codec
        extra.update({"spark.eventLog.dir": event_log, "spark.eventLog.compress": "false"})
    spark = get_session(SessionConfig(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra=extra,
    ))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- jobs, built only through the engine's public API ---------------------------


class _TracedLogSink:
    """``SamzaLogSink`` with its ``log_sink`` callable inside a span."""

    def __init__(self, tracer, path: str, sink_id: str, checkpoint: str):
        self.tracer, self.path, self.sink_id, self.checkpoint = tracer, path, sink_id, checkpoint

    def write(self, df):
        from samza_spark.sources.log_datasource import log_sink

        inner = log_sink(self.path, sink_id=self.sink_id, n_partitions=4)

        def write_batch(batch_df, batch_id):
            with self.tracer.span("sink.write_batch", batch_id=batch_id):
                inner(batch_df, batch_id)

        return df.writeStream.foreachBatch(write_batch).option(
            "checkpointLocation", self.checkpoint).start()


def start_job(spark, workload: str, in_log: str, out_dir: str, tracer):
    """Plan and start the workload's streaming query."""
    from pyspark.sql import functions as F

    from samza_spark.sources.descriptors import SamzaLogSink, SamzaLogSource

    out_log, ckpt = os.path.join(out_dir, "log"), os.path.join(out_dir, "ckpt")
    if tracer.enabled:
        sink = _TracedLogSink(tracer, out_log, workload, ckpt)
    else:
        sink = SamzaLogSink(out_log, sink_id=workload, n_partitions=4, checkpoint=ckpt)
    source = SamzaLogSource(in_log, max_records_per_trigger=WORKLOADS[workload]["cap"])
    if workload == "log_etl":
        from samza_spark.sql.runner import SqlApplication

        with tracer.span("sql.plan"):
            app = SqlApplication(spark)
            app.add_stream("events", source.read_stream(spark))
            app.add_sink("out", sink)
            (query,) = app.run(ETL_SQL)
        return query

    from samza_spark.operators.windows import Triggers, Windows
    from samza_spark.streaming.stateful import AggSpec

    with tracer.span("dsl.plan"):
        events = source.read_stream(spark).map(
            "key", "timestamp_ms", ts=F.timestamp_millis(F.col("timestamp_ms")))
        spec = Windows.keyed_tumbling_window("key", "ts", "5 seconds").set_early_trigger(
            Triggers.count(20))
        panes = events.window(spec, AggSpec("count", "count"),
                              AggSpec("max_ts", "max", "timestamp_ms"))
        return panes.map(
            "key",
            value=F.to_json(F.struct(F.unix_millis("window_start").alias("ws"), "count",
                                     "max_ts", "pane_seq", "is_final")),
            timestamp_ms=F.col("max_ts").cast("long"),
        ).send_to(sink)


def state_rows(query) -> int | None:
    """Rows in the query's state store after its last batch."""
    p = query.lastProgress
    return p.stateOperators[0].numRowsTotal if p and p.stateOperators else None


def committed(query) -> int:
    """Input records committed so far: the last batch's end offsets."""
    from tracing import end_offsets

    p = query.lastProgress
    return sum(end_offsets(json.loads(p.json)).values()) if p and p.sources else 0


def wait_for(query, cond, timeout_s: float, poll_s: float = 0.05) -> bool:
    """Poll ``cond`` until it holds, the query fails, ``timeout_s`` passes or
    the run's deadline comes."""
    deadline = min(time.time() + timeout_s, T_PROCESS + DEADLINE_S)
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"query failed: {query.exception()}")
        if cond():
            return True
        time.sleep(poll_s)
    return bool(cond())


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def read_log(log_dir: str) -> dict[int, dict]:
    """The committed records of a samza_log directory as per-partition
    columns ``key``, ``value`` (lists) and ``ts`` (array), in offset order."""
    import pyarrow.json as pj

    from samza_spark.sources.log_datasource import read_manifest

    out = {}
    for p, n in read_manifest(log_dir).items():
        t = pj.read_json(os.path.join(log_dir, f"part-{p}.jsonl")).slice(0, n)
        if t.num_rows != n:
            raise RuntimeError(f"{log_dir} partition {p}: {t.num_rows} records, manifest {n}")
        out[p] = {"key": t["key"].to_pylist(), "value": t["value"].to_pylist(),
                  "ts": t["timestamp_ms"].to_numpy()}
    return out


def split_values(part: dict):
    """``(seq, amt, due_ms)`` arrays from input values ``"<seq>:<amt>:<due_ms>"``."""
    import numpy as np

    if not part["value"]:
        return (np.zeros(0, dtype=np.int64),) * 3
    cols = np.array([v.split(":") for v in part["value"]], dtype=np.int64)
    return cols[:, 0], cols[:, 1], cols[:, 2]


# -- end-to-end metrics --------------------------------------------------------------


def latency_ms(progress: list[dict], in_log: dict, first_seq: int, t_from: float):
    """Event-to-commit latency of every live record due at or after
    ``t_from``: end of the first trigger whose end offset covers the record,
    minus the record's due time."""
    import numpy as np

    from tracing import commit_time, end_offsets

    batches = [(commit_time(p), end_offsets(p)) for p in progress if p["sources"]]
    commits = np.array([c for c, _ in batches]) * 1000
    out = []
    for part, cols in in_log.items():
        seq, _, due = split_values(cols)
        ends = np.array([e.get(part, 0) for _, e in batches])
        offs = np.flatnonzero((seq >= first_seq) & (due >= t_from * 1000))
        b = np.searchsorted(ends, offs, side="right")
        if len(b) and b.max() >= len(batches):
            raise RuntimeError(f"partition {part}: records were never committed")
        out.append(commits[b] - due[offs])
    return np.concatenate(out)


def catchup_rps(progress: list[dict], before: int, upto: int) -> float:
    """Records ``before .. upto`` over the time from the start of the first
    trigger that reads past ``before`` to the end of the one that covers
    ``upto``."""
    from tracing import commit_time, end_offsets, progress_time

    t0 = None
    for p in progress:
        done = sum(end_offsets(p).values()) if p["sources"] else 0
        if t0 is None and done > before:
            t0 = progress_time(p)
        if done >= upto:
            return (upto - before) / (commit_time(p) - t0)
    raise RuntimeError("backlog never drained")


def pct(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


# -- correctness checks ----------------------------------------------------------


def check_input(workload: str, seed: int, in_log: dict, n: int) -> list[str]:
    """The input log holds seqs 0..n-1 once each, with the seeded content."""
    import numpy as np

    from gen import PARTITIONS, content

    keys, amts, lates = content(workload, seed, 0, n)
    errs, seen = [], np.zeros(n, dtype=np.int64)
    for part, cols in in_log.items():
        seq, amt, due = split_values(cols)
        ok = (seq >= 0) & (seq < n) & (seq % PARTITIONS == part)
        s = np.where(ok, seq, 0)
        ok &= (amt == amts[s]) & (cols["ts"] == due - lates[s])
        ok &= np.array([k == f"k{keys[i]:05d}" for k, i in zip(cols["key"], s)], dtype=bool)
        if not ok.all():
            errs.append(f"partition {part}: {int((~ok).sum())} records differ from their seq")
        np.add.at(seen, seq[ok], 1)
    if not (seen == 1).all():
        errs.append(f"{int((seen != 1).sum())} of {n} generated records are not in the log once")
    return errs


def check_log_etl(in_log: dict, out_log: dict) -> tuple[int, int]:
    """Every input record that passes the filter is committed exactly once,
    projected; nothing else is. Compared as multisets, then by count and an
    order-insensitive hash. Returns (records checked, records wrong)."""
    expected, n_in = collections.Counter(), 0
    for cols in in_log.values():
        _, amt, _ = split_values(cols)
        n_in += len(amt)
        for k, v, ts, a in zip(cols["key"], cols["value"], cols["ts"].tolist(), amt.tolist()):
            if a < ETL_KEEP_BELOW:
                expected[(k, v.upper(), ts)] += 1
    got = collections.Counter(
        item for cols in out_log.values()
        for item in zip(cols["key"], cols["value"], cols["ts"].tolist()))

    def digest(c):
        h = hashlib.sha256()
        for item in sorted(c.elements()):
            h.update(json.dumps(item).encode())
        return h.hexdigest()

    wrong = sum(((expected - got) + (got - expected)).values())
    if wrong == 0 and (sum(got.values()) != sum(expected.values())
                       or digest(got) != digest(expected)):
        wrong = 1
    return n_in, wrong


def check_keyed_window(in_log: dict, out_log: dict) -> tuple[int, int]:
    """Per (key, window), the final-pane counts sum to a group-by count over
    the input log. Returns (groups checked, groups wrong)."""
    expected = collections.Counter(
        item for cols in in_log.values()
        for item in zip(cols["key"], (cols["ts"] // WINDOW_MS * WINDOW_MS).tolist()))
    got = collections.Counter()
    for cols in out_log.values():
        for k, v in zip(cols["key"], cols["value"]):
            pane = json.loads(v)
            if pane["is_final"]:
                got[(k, pane["ws"])] += pane["count"]
    wrong = sum(1 for k in expected.keys() | got.keys() if expected.get(k) != got.get(k))
    return len(expected), wrong


# -- per-layer metrics (traced run) ----------------------------------------------


def layer_metrics(live, progress, gen_rep, jobs, run_ids, spans, due_ms, first_seq,
                  out_log_dir) -> dict:
    """Per-layer numbers over the live phase (``live`` progress records)."""
    import numpy as np

    from samza_spark.sources.log_datasource import read_manifest
    from tracing import batch_of, end_offsets, progress_time

    def med(xs):
        xs = [x for x in xs if x is not None]
        return float(np.median(xs)) if xs else 0.0

    data = [p for p in live if p["numInputRows"] > 0]
    live_ids = {p["batchId"] for p in live}
    live_jobs = [j for j in jobs.values() if j["group"] in run_ids and batch_of(j) in live_ids]
    by_batch = collections.defaultdict(list)
    for j in live_jobs:
        by_batch[batch_of(j)].append(j)

    # the sink callable's jobs vs its driver-side work after the last job
    sink_spans = [s for s in spans if s["name"] == "sink.write_batch" and s["batch_id"] in live_ids]
    stage_ms, driver_ms = [], []
    for s in sink_spans:
        inside = [j for j in by_batch[s["batch_id"]]
                  if j["end"] and s["start"] - 0.01 <= j["submit"] <= s["end"]]
        stage_ms.append(sum((j["end"] - j["submit"]) * 1000 for j in inside))
        last = max((j["end"] for j in inside), default=s["start"])
        driver_ms.append(max(0.0, (s["end"] - last) * 1000))

    # records due but not yet committed when each live trigger started
    due_sorted = np.sort(due_ms)
    backlog, prev_end = [], None
    for p in progress:
        if p["batchId"] in live_ids and prev_end is not None:
            due = int(np.searchsorted(due_sorted, progress_time(p) * 1000, side="right"))
            backlog.append(max(0, first_seq + due - prev_end))
        if p["sources"]:
            prev_end = sum(end_offsets(p).values())

    def acc(name):
        return float(sum(j["accum"].get(name, 0) for j in live_jobs))

    st = [p["stateOperators"][0] for p in live if p["stateOperators"]]
    return {
        "producer.append_ms_p50": med(gen_rep["append_ms"]),
        "producer.append_ms_max": float(max(gen_rep["append_ms"])),
        "generator.late_ms_max": float(max(gen_rep["late_ms"])),
        "source.latest_offset_ms": med([p["durationMs"].get("latestOffset") for p in data]),
        "source.scan_stage_ms": med([sum(j["leaf_run_ms"] for j in by_batch[p["batchId"]])
                                     for p in data]),
        "source.backlog_records_max": float(max(backlog, default=0)),
        "trigger.batches": float(len(live)),
        "trigger.rows_per_batch_p50": med([p["numInputRows"] for p in data]),
        "trigger.planning_ms": med([p["durationMs"].get("queryPlanning") for p in data]),
        "trigger.add_batch_ms": med([p["durationMs"].get("addBatch") for p in data]),
        "trigger.wal_commit_ms": med([p["durationMs"].get("walCommit") for p in data]),
        "trigger.commit_offsets_ms": med([p["durationMs"].get("commitOffsets") for p in data]),
        "sink.write_batch_ms": med([(s["end"] - s["start"]) * 1000 for s in sink_spans]),
        "sink.stage_job_ms": med(stage_ms),
        "sink.commit_driver_ms": med(driver_ms),
        "sink.rows_committed": float(sum(read_manifest(out_log_dir).values())),
        "state.python_run_ms": acc("time to run Python workers") if st else 0.0,
        "state.python_bytes_sent": acc("data sent to Python workers") if st else 0.0,
        "state.updates_ms": med([s["allUpdatesTimeMs"] for s in st]),
        "state.commit_ms": med([s["commitTimeMs"] for s in st]),
        "state.rows_total": float(max((s["numRowsTotal"] for s in st), default=0)),
        "state.rows_updated_per_batch": med([s["numRowsUpdated"] for s in st]),
        "state.memory_bytes": float(max((s["memoryUsedBytes"] for s in st), default=0)),
        # the window operator's panes are the sink's only input
        "state.panes_emitted": float(sum(read_manifest(out_log_dir).values())) if st else 0.0,
        "exec.run_ms": float(sum(j["run_ms"] for j in live_jobs)),
        "exec.cpu_ms": sum(j["cpu_ns"] for j in live_jobs) / 1e6,
        "exec.gc_ms": float(sum(j["gc_ms"] for j in live_jobs)),
        "exec.shuffle_write_bytes": float(sum(j["shuffle_write_bytes"] for j in live_jobs)),
        "exec.spill_bytes": float(sum(j["spill_bytes"] for j in live_jobs)),
    }


def layer_unit(name: str) -> str:
    if name.startswith("traced."):
        return E2E_UNITS[name.split(".", 1)[1]]
    if "_ms" in name:
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_rps"):
        return "1/s"
    return "count"


# -- one run -------------------------------------------------------------------------


def run(args) -> dict:
    import numpy as np

    import gen
    from tracing import (Tracer, add_trigger_spans, event_log_files, progress_time,
                         read_event_log)

    cfg = WORKLOADS[args.workload]
    stamp_start, ticks_start = host_stamp(), cpu_ticks()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(HERE, "_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(run_id, bool(args.trace))
    spark = None
    try:
        # inputs, generated before the session starts: not part of set-up.
        # One input log: seqs [0, setup) for set-up, then the backlog, then
        # the live records.
        t = time.time()
        first_live = SETUP_RECORDS + cfg["backlog"]
        in_log = os.path.join(work, "in")
        gen.append(in_log, gen.backlog(args.workload, args.seed, 0, SETUP_RECORDS, int(t * 1000)))
        backlog = gen.backlog(args.workload, args.seed, SETUP_RECORDS, cfg["backlog"],
                              int(t * 1000))
        if args.trace:
            local1_log = os.path.join(work, "local1", "in")
            gen.append(local1_log, gen.backlog(args.workload, args.seed, 0,
                                               cfg["local1_backlog"], int(t * 1000)))
        gen_s = time.time() - t

        event_log = os.path.join(work, "eventlog") if args.trace else None
        spark = start_session(work, 4, event_log)
        session_ready = time.time() - T_PROCESS
        out_dir = os.path.join(work, "main")
        rep_path = os.path.join(work, "gen.json")
        with tracer.span("run"):
            # set-up: process start to the first committed batch, input
            # generation excluded
            with tracer.span("setup"):
                q = start_job(spark, args.workload, in_log, out_dir, tracer)
                ok = wait_for(q, lambda: committed(q) >= SETUP_RECORDS, 120, 0.01)
            try:
                if not ok:
                    raise RuntimeError("the set-up batch did not commit")
                setup_s = time.time() - T_PROCESS - gen_s
                marks = {"session_ready": session_ready, "setup_done": time.time() - T_PROCESS}
                # catch-up: the backlog lands at once and is drained
                gen.append(in_log, backlog)
                if not wait_for(q, lambda: committed(q) >= first_live, 60):
                    raise RuntimeError("the backlog did not drain")
                marks["catchup_done"] = time.time() - T_PROCESS
                if args.workload == "keyed_window":
                    # the backlog's windows close before the live phase, so
                    # its final panes do not land in a timed batch
                    if not wait_for(q, lambda: state_rows(q) == 0, 30, 0.1):
                        raise RuntimeError("the backlog's windows did not close")
                    marks["backlog_state_empty"] = time.time() - T_PROCESS
                # live: the open-loop generator process
                live_start = time.time() + 0.3
                live_s = WARMUP_S + args.seconds
                t_live, t_gen_end = live_start + WARMUP_S, live_start + live_s
                total = first_live + int(cfg["rate"] * live_s)
                proc = subprocess.Popen([
                    sys.executable, os.path.join(HERE, "gen.py"), "--log", in_log,
                    "--workload", args.workload, "--seed", str(args.seed),
                    "--rate", str(cfg["rate"]), "--seconds", str(live_s),
                    "--first-seq", str(first_live), "--start-at", repr(live_start),
                    "--report", rep_path])
                try:
                    proc.wait(timeout=live_s + 30)
                finally:
                    if proc.poll() is None:
                        proc.kill()
                        proc.wait()
                if proc.returncode != 0:
                    raise RuntimeError(f"generator exited with {proc.returncode}")
                marks["generator_done"] = time.time() - T_PROCESS
                drained = wait_for(q, lambda: committed(q) >= total, 40)
                marks["all_committed"] = time.time() - T_PROCESS
                state_empty = True
                if args.workload == "keyed_window":
                    # a window closes one window length (processing time)
                    # after its first event; wait until no state is left
                    state_empty = wait_for(q, lambda: state_rows(q) == 0, 30, 0.1)
                    marks["state_empty"] = time.time() - T_PROCESS
                jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
                rss_parts = {"python": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm_pid)}
                rss_mb = sum(rss_parts.values())
            finally:
                q.stop()
        marks["query_stopped"] = time.time() - T_PROCESS
        progress = progress_of(q)
        spark.stop()
        spark = None
        marks["session_stopped"] = time.time() - T_PROCESS

        local1 = None
        if args.trace:
            # single-thread baseline: the same job draining a backlog at
            # local[1], in a fresh context of the same (warm) JVM
            spark = start_session(work, 1, None)
            n1 = cfg["local1_backlog"]
            q1 = start_job(spark, args.workload, local1_log, os.path.join(work, "local1"),
                           Tracer(run_id, False))
            try:
                if not wait_for(q1, lambda: committed(q1) >= n1, 60):
                    raise RuntimeError("the local[1] backlog did not drain")
            finally:
                q1.stop()
            local1 = catchup_rps(progress_of(q1), 0, n1)
            spark.stop()
            spark = None
        stamp_end, ticks_end = host_stamp(), cpu_ticks()

        with open(rep_path) as f:
            gen_rep = json.load(f)
        in_rows = read_log(in_log)
        lat = latency_ms(progress, in_rows, first_live, t_live)
        live = [p for p in progress if t_live <= progress_time(p) <= t_gen_end]

        checks = {}
        errs = check_input(args.workload, args.seed, in_rows, total)
        checks["input_log_matches_seed"] = (1, 1 if errs else 0)
        out_rows = read_log(os.path.join(out_dir, "log"))
        if args.workload == "log_etl":
            checks["output_exactly_once"] = check_log_etl(in_rows, out_rows)
        else:
            checks["final_panes_match_groupby"] = check_keyed_window(in_rows, out_rows)
            checks["state_drained"] = (1, 0 if state_empty else 1)
        checks["all_committed"] = (1, 0 if drained else 1)
        late_max = max(gen_rep["late_ms"])
        checks["generator_on_time"] = (1, 0 if late_max <= LATE_BOUND_MS else 1)
        marks["checked"] = time.time() - T_PROCESS
        attempted = sum(a for a, _ in checks.values())
        failed = sum(f for _, f in checks.values())

        e2e = {
            "setup_s": setup_s,
            "latency_p50_ms": pct(lat, 50),
            "latency_p90_ms": pct(lat, 90),
            "catchup_rps": catchup_rps(progress, SETUP_RECORDS, first_live),
            "peak_rss_mb": rss_mb,
        }
        info = {
            "workload": args.workload, "seed": args.seed, "run_id": run_id,
            "host_start": stamp_start, "host_end": stamp_end, "input_gen_s": gen_s,
            "steal_share": (ticks_end[7] - ticks_start[7])
            / max(1, sum(ticks_end) - sum(ticks_start)),
            "latency_samples": len(lat),
            "live_batches": sum(1 for p in live if p["numInputRows"] > 0),
            "live_trigger_ms": [p["durationMs"].get("triggerExecution") for p in live],
            "generator_late_ms_max": late_max, "late_bound_ms": LATE_BOUND_MS,
            "checks": checks, "error_ratio": failed / attempted, "input_errors": errs[:3],
            "phase_end_s": {k: round(v, 2) for k, v in marks.items()},
            "rss_mb": rss_parts,
        }
        if args.trace:
            jobs = read_event_log(event_log_files(event_log))
            root = next(s["id"] for s in tracer.spans if s["name"] == "run")
            add_trigger_spans(tracer, progress, jobs=jobs, parent=root)
            for s in gen_rep["spans"]:
                tracer.add(s["name"], s["start"], s["end"], parent=root, records=s["records"])
            due = np.concatenate([d[seq >= first_live] for seq, _, d in map(split_values,
                                                                           in_rows.values())])
            metrics = layer_metrics(live, progress, gen_rep, jobs,
                                    {p["runId"] for p in progress}, tracer.spans, due,
                                    first_live, os.path.join(out_dir, "log"))
            metrics["baseline.local1_catchup_rps"] = local1
            metrics.update({f"traced.{k}": v for k, v in e2e.items()})
            tracer.write(os.path.join(HERE, "_work", f"spans-{run_id}.jsonl"))
            with open(os.path.join(HERE, "_work", f"progress-{run_id}.json"), "w") as f:
                json.dump(progress, f)
            out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
        else:
            out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        return {"info": info, "correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": out}
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="live phase, timed part")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "samza_spark")):
        print(f"no samza_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        res = run(args)
    finally:
        stop_jvm()
    info = res.pop("info")
    print(json.dumps(info), file=sys.stderr)
    print(f"error_ratio {info['error_ratio']:.6f} "
          f"({res['failed']} of {res['attempted']} checked items failed)")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
