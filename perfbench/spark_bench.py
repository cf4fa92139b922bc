"""The Spark workloads, ``backfill`` and ``replicate``: binlog bytes ->
``format("mysql_binlog")`` -> ``envelope_to_typed_rows`` ->
``StateTable.merger()`` -> point lookups through
``StateTable.current(spark)``.

Every path is passed explicitly (state root, checkpoint, log dir), the
working directory and warehouse sit in the run's own directory, and
``mysql_cdc_spark.queries`` is never imported (its import-time sweep
owns a shared scratch directory)."""

from __future__ import annotations

import json
import os
import random
import shlex
import threading
import time

import gen
import harness as h

VALUE_TYPES = {"val": "decimal(12,4)", "word": "string", "stamp": "bigint"}
CATALOG_JSON = json.dumps({f"{db}.{tbl}": cols for (db, tbl), cols in gen.CATALOG.items()})
N_BUCKETS = 8
TRIGGER_S = 3          # replicate's fixed processingTime trigger (see NOTES.md)
GRID_PHASE_S = 0.015   # first live transaction due this long after a trigger time
WAIT_S = 60            # longest a drain or a catch-up may take
CATCHUP_DRAINS = 3


def spark_env(work: str, event_log: str | None) -> None:
    """Process environment for the session: cores, scratch and temp
    dirs inside the run dir, the library on the workers' path, and the
    event log for a traced run only."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(h.nproc())
    os.environ["SPARK_DRIVER_MEM"] = "512m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = h.ROOT + (os.pathsep + pp if pp else "")
    submit = ["--driver-java-options",
              f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file://{event_log}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*submit, "pyspark-shell"])
    os.chdir(work)


def start_session():
    from mysql_cdc_spark.session import get_spark
    from mysql_cdc_spark.sources.binlog_datasource import register_binlog_source

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    register_binlog_source(spark)
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for both and for every
    process the JVM started."""
    from pyspark import SparkContext

    kids = h.descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=15)
        SparkContext._gateway = None
        SparkContext._jvm = None
    h.wait_gone(kids, timeout=10)


# -- the product pipeline -------------------------------------------------


class Pipeline:
    """One StateTable fed by one mysql_binlog stream.  ``visible``
    records (batch_id, monotonic ns, phase) when each batch's merge
    has committed, which is when a point lookup can see it."""

    def __init__(self, spark, log_dir: str, root: str, name: str) -> None:
        from mysql_cdc_spark.operators.state_table import StateTable

        self.spark, self.log_dir = spark, log_dir
        self.cp = os.path.join(root, "checkpoint")
        self.state = StateTable(os.path.join(root, "state"), name,
                                n_buckets=N_BUCKETS, keys=("db", "tbl", "id"))
        self.visible: list[tuple[int, int, str]] = []
        self.phase = ""
        self.query = None

    def _typed(self):
        from mysql_cdc_spark.operators.state_table import envelope_to_typed_rows

        env = (self.spark.readStream.format("mysql_binlog")
               .option("catalog", CATALOG_JSON).load(self.log_dir))
        return envelope_to_typed_rows(env, {"id": "bigint"}, VALUE_TYPES,
                                      passthrough=("db", "tbl"))

    def start(self, available_now: bool):
        merge = self.state.merger()

        def on_batch(df, batch_id):
            merge(df, batch_id)
            self.visible.append((batch_id, time.monotonic_ns(), self.phase))

        w = (self._typed().writeStream.foreachBatch(on_batch)
             .option("checkpointLocation", self.cp))
        w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime=f"{TRIGGER_S} seconds")
        self.query = w.start()
        return self.query

    def wait_ready(self) -> None:
        """Wait until the query's first trigger has run, so the open
        loop starts against a running query, not its start-up."""
        deadline = time.monotonic() + WAIT_S
        while time.monotonic() < deadline:
            st = self.query.status
            if st["message"] != "Initializing sources" and not st["isTriggerActive"]:
                return
            time.sleep(0.05)
        raise TimeoutError("live query did not start")

    def drain(self) -> None:
        """availableNow: everything on disk, committed, query ended."""
        self.start(available_now=True)
        if not self.query.awaitTermination(WAIT_S):
            self.query.stop()
            raise TimeoutError("availableNow drain did not finish")

    def batch_end(self, batch_id: int) -> tuple[str, int]:
        """The committed end offset of a batch, from the offset log."""
        with open(os.path.join(self.cp, "offsets", str(batch_id))) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        off = json.loads(lines[2])
        if isinstance(off, str):
            off = json.loads(off)
        return off["file"], int(off["pos"])

    def visible_at(self, txns: list, phase: str) -> list[int | None]:
        """Per transaction [due, file, end_pos, rows]: the monotonic ns
        of the first batch commit whose end offset covers it."""
        ends = [(self.batch_end(b), t) for b, t, p in sorted(self.visible) if p == phase]
        out, j = [], 0
        for _, f, pos, _ in txns:
            while j < len(ends) and ends[j][0] < (f, pos):
                j += 1
            out.append(ends[j][1] if j < len(ends) else None)
        return out

    def covered(self, txns: list) -> bool:
        if not txns or not self.visible:
            return not txns
        return self.batch_end(max(b for b, _, _ in self.visible)) >= tuple(txns[-1][1:3])

    def snapshot(self) -> dict:
        out = {name: {} for name in gen.TABLE_NAMES}
        for r in self.state.current(self.spark).select(
                "db", "tbl", "id", "val", "word", "stamp").collect():
            out[f"{r.db}.{r.tbl}"][str(r.id)] = [r.val, r.word, r.stamp]
        return out

    def lookup(self, table: str, key: int) -> list:
        from pyspark.sql import functions as F

        db, tbl = table.split(".")
        return self.state.current(self.spark).filter(
            (F.col("db") == db) & (F.col("tbl") == tbl) & (F.col("id") == key)
        ).select("val", "word", "stamp").collect()


def warm_up(spark, warm_dir: str, work: str) -> None:
    """Untimed first use of every code path on a small separate input."""
    p = Pipeline(spark, warm_dir, os.path.join(work, "warm"), "pb_warm")
    p.drain()
    p.snapshot()
    p.lookup(gen.TABLE_NAMES[0], 1)


# -- per-layer probes (traced runs) ---------------------------------------


def datasource_probe(spark, log_dir: str, tracer) -> dict:
    """Batch scan -> noop, then the typed projection -> noop."""
    from mysql_cdc_spark.operators.state_table import envelope_to_typed_rows

    env = spark.read.format("mysql_binlog").option("catalog", CATALOG_JSON).load(log_dir)
    with tracer.span("datasource.scan_noop"):
        t0 = time.perf_counter()
        env.write.format("noop").mode("overwrite").save()
        scan = time.perf_counter() - t0
    typed = envelope_to_typed_rows(env, {"id": "bigint"}, VALUE_TYPES,
                                   passthrough=("db", "tbl"))
    with tracer.span("state_table.typed_noop"):
        t0 = time.perf_counter()
        typed.write.format("noop").mode("overwrite").save()
        typed_s = time.perf_counter() - t0
    return {"datasource.scan_s": scan,
            "datasource.partitions": env.rdd.getNumPartitions(),
            "state_table.typed_s": typed_s - scan}


def stream_metrics(progress: list) -> dict:
    """Per-trigger medians from the queries' own progress reports."""
    prog = [p for p in progress if p.numInputRows > 0]

    def d(key):
        return h.median(p.durationMs.get(key, 0) for p in prog)

    return {"stream.batches": len(prog),
            "stream.trigger_ms": d("triggerExecution"),
            "stream.planning_ms": d("queryPlanning"),
            "stream.add_batch_ms": d("addBatch"),
            "stream.wal_commit_ms": d("walCommit"),
            "stream.commit_offsets_ms": d("commitOffsets"),
            "datasource.latest_offset_ms": d("latestOffset"),
            "datasource.input_rows_per_trigger": h.median(p.numInputRows for p in prog)}


def trace_merges(p: Pipeline, tracer) -> None:
    """Wrap the pipeline's StateTable.merge_batch in a span
    (benchmark-side; the library is not edited)."""
    inner = p.state.merge_batch

    def merge_batch(batch_df, batch_id):
        with tracer.span("state_table.merge_batch", phase=p.phase):
            return inner(batch_df, batch_id)

    p.state.merge_batch = merge_batch


def merge_metrics(p: Pipeline, tracer, txns: list, phase: str) -> dict:
    """merge_s from spans; merge_rows from the generator's record of
    which transactions the phase's merged batches covered."""
    durs = tracer.durations("state_table.merge_batch", phase=phase)
    seen = p.visible_at(txns, phase)
    ptr = p.state.committed() or {}
    vdir = os.path.join(p.state.root, f"v{ptr.get('version', 0):06d}")
    size = sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(vdir) for f in fs)
    return {"state_table.merge_p50_s": h.median(durs),
            "state_table.merge_total_s": sum(durs),
            "state_table.merges": len(durs),
            "state_table.merge_rows": sum(t[3] for t, v in zip(txns, seen) if v is not None),
            "state_table.version_bytes": size}


SPARK_KEYS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def spark_task_metrics(event_dir: str, t0_ms: float, t1_ms: float, prefix: str) -> dict:
    """Task totals from the Spark event log, for tasks launched in one
    phase's wall-clock window."""
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    files = [os.path.join(d, f) for d, _, fs in os.walk(event_dir) for f in fs]
    for path in files:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                if not t0_ms <= ev["Task Info"]["Launch Time"] <= t1_ms:
                    continue
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                out["tasks"] += 1
                out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                out["shuffle_write_bytes"] += (
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
                out["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                out["spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
    return {f"{prefix}.{k}": v for k, v in out.items()}


# -- the workload ---------------------------------------------------------


READ_TRIES = 5
READ_THINK_S = 0.5  # the reader's pause between lookups (see NOTES.md)


class Reader(threading.Thread):
    """One closed-loop point-lookup client beside the writes, pausing
    ``READ_THINK_S`` after each answer.  The live phase only updates,
    so every key it picks stays live and an empty result is a
    failure."""

    def __init__(self, p: Pipeline, keys: list[tuple[str, int]], seed: int, tracer) -> None:
        super().__init__(name="perfbench-reader", daemon=True)
        self.p, self.keys, self.tracer = p, keys, tracer
        self.rng = random.Random(f"{seed}-reader")
        self.stop_evt = threading.Event()
        self.lat_ms: list[float] = []
        self.attempted = self.failed = self.retries = 0
        self.error: BaseException | None = None

    def _lookup(self, table: str, key: int) -> list:
        """A lookup whose committed version changed while it ran may
        have read a version the writer's GC deleted: it is retried on
        the new version and counted in ``retries``.  A lookup that did
        not overlap a commit is final, error or not."""
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import AnalysisException

        for _ in range(READ_TRIES - 1):
            before = self.p.state.committed()["version"]
            try:
                got = self.p.lookup(table, key)
            except (Py4JJavaError, AnalysisException):
                if self.p.state.committed()["version"] == before:
                    raise
            else:
                if len(got) == 1 or self.p.state.committed()["version"] == before:
                    return got
            self.retries += 1
        return self.p.lookup(table, key)

    def run(self) -> None:
        try:
            while not self.stop_evt.is_set():
                table, key = self.rng.choice(self.keys)
                t0 = time.perf_counter()
                with self.tracer.span("state_table.lookup"):
                    got = self._lookup(table, key)
                self.lat_ms.append((time.perf_counter() - t0) * 1e3)
                self.attempted += 1
                self.failed += 0 if len(got) == 1 else 1
                self.stop_evt.wait(READ_THINK_S)
        except BaseException as exc:  # surfaced by the caller after join
            self.error = exc

    def finish(self) -> None:
        self.stop_evt.set()
        self.join(timeout=WAIT_S)
        if self.is_alive():
            raise TimeoutError("reader did not stop")
        if self.error is not None:
            raise self.error


def grid_lead_s(min_lead_s: float = 0.5) -> float:
    """Seconds from now until the open loop should start.  Spark fires
    a processingTime trigger at wall-clock multiples of its interval,
    so starting every live phase at the same phase of that grid gives
    every run the same split of transactions into batches."""
    now = time.time()
    start = -(-(now + min_lead_s) // TRIGGER_S) * TRIGGER_S + GRID_PHASE_S
    return start - now


def _copy_logs(src: str, dst: str) -> None:
    os.makedirs(dst)
    for name in sorted(os.listdir(src)):
        with open(os.path.join(src, name), "rb") as a, open(os.path.join(dst, name), "wb") as b:
            b.write(a.read())


def catch_up(run, spark, log_dir: str) -> Pipeline:
    """Backfill: the whole rotated backlog drained with availableNow
    into a fresh StateTable, ``CATCHUP_DRAINS`` times (the median is
    timed; the first drain of a process still runs colder than the
    rest), each result checked against the oracle.  The last table is
    read back by closed-loop point lookups and carries on live."""
    man = run.inputs["manifest"]
    expected = h.perturb_state(man["state"]) if run.perturb else man["state"]
    secs = []
    w0 = time.time() * 1e3
    for i in range(CATCHUP_DRAINS):
        p = Pipeline(spark, log_dir, os.path.join(run.work, f"rep{i}"), f"pb_rep{i}")
        if run.tracer.enabled:
            trace_merges(p, run.tracer)
        p.phase = "catchup"
        t0 = time.perf_counter()
        with run.tracer.phase("replicate.catchup"):
            p.drain()
        secs.append(time.perf_counter() - t0)
        run.count(*h.compare_state(expected, p.snapshot()))
    run.windows["spark.catchup"] = (w0, time.time() * 1e3)
    run.e2e["catchup_rows_per_s"] = man["rows"] / h.median(secs)
    run.layer["state_table.catchup_merge_s"] = h.median(
        run.tracer.durations("state_table.merge_batch", phase="catchup"))
    rng = random.Random(f"{run.seed}-lookups")
    reads = []
    for _ in range(run.cfg["lookups"]):
        table = rng.choice(gen.TABLE_NAMES)
        key = rng.randrange(1, run.cfg["key_space"] + 1)
        t0 = time.perf_counter()
        with run.tracer.span("state_table.lookup"):
            got = p.lookup(table, key)
        reads.append((time.perf_counter() - t0) * 1e3)
        want = expected[table].get(str(key))
        ok = (not got) if want is None else (
            len(got) == 1 and h.norm(want) == h.norm(list(got[0])))
        run.count(1, 0 if ok else 1)
    run.extra["catchup_read_p50_ms"] = h.pct(reads, 50)
    return p


def replicate(run, spark) -> None:
    """Catch up on the backlog, then run live: a processingTime query
    under an open-loop trickle of 4-row update transactions (one file
    rotation per phase) with one reader alongside."""
    cfg, man = run.cfg, run.inputs["manifest"]
    log_dir = os.path.join(run.work, "logs")
    _copy_logs(run.inputs["log_dir"], log_dir)
    p = catch_up(run, spark, log_dir)
    keys = [(t, int(k)) for t in gen.TABLE_NAMES for k in man["state"][t]]
    reader = Reader(p, keys, run.seed, run.tracer)
    p.start(available_now=False)
    p.wait_ready()
    reader.start()
    state_from = run.inputs["manifest_path"]
    phases = ["untraced", "traced"] if run.tracer.enabled else ["untraced"]
    lags, reads_from = {}, {}
    try:
        for phase in phases:
            p.phase = phase
            run.tracer.enabled = phase == "traced"
            out = os.path.join(run.work, f"live-{phase}.json")
            w0 = time.time() * 1e3
            reads_from[phase] = len(reader.lat_ms)
            with run.tracer.phase(f"replicate.live.{phase}"):
                g = h.LiveGen(run.seed, log_dir, state_from, out,
                              cfg["key_space"], cfg["rate"], run.seconds,
                              rows=cfg["rows"], rotate_at=0.5, lead_s=grid_lead_s())
                live = g.result(timeout=run.seconds + WAIT_S)
                deadline = time.monotonic() + cfg["limit_ms"] / 1e3 + 10
                while not p.covered(live["txns"]) and time.monotonic() < deadline:
                    time.sleep(0.05)
            state_from = out
            seen = p.visible_at(live["txns"], phase)
            lags[phase] = [(v - t[0]) / 1e6 for v, t in zip(seen, live["txns"]) if v is not None]
            run.count(len(seen), sum(1 for v in seen if v is None))
            run.gen_live.append(live)
            if phase == "traced":
                run.windows["spark"] = (w0, time.time() * 1e3)
                run.layer.update(merge_metrics(p, run.tracer, live["txns"], phase))
                ids = {b for b, _, ph in p.visible if ph == phase}
                run.layer.update(stream_metrics(
                    [pr for pr in p.query.recentProgress if pr.batchId in ids]))
    finally:
        reader.finish()
        p.query.stop()
    run.count(reader.attempted, reader.failed)
    final = run.gen_live[-1]["state"]
    run.count(*h.compare_state(h.perturb_state(final) if run.perturb else final, p.snapshot()))
    run.e2e["lag_p50_ms"] = h.pct(lags["untraced"], 50)
    run.extra["lag_p90_ms"] = h.pct(lags["untraced"], 90)
    run.extra["lag_p99_ms"] = h.pct(lags["untraced"], 99)
    run.extra["lag_samples"] = len(lags["untraced"])
    reads = reader.lat_ms[:reads_from.get("traced", len(reader.lat_ms))]
    run.extra["read_p50_ms"] = h.pct(reads, 50)
    run.extra["batches"] = len([v for v in p.visible if v[2] == "untraced"])
    run.extra["read_retries"] = reader.retries
    run.layer["state_table.read_retries"] = reader.retries
    run.layer["state_table.reads"] = len(reads)
    run.layer["state_table.read_p50_ms"] = h.pct(reads, 50)
    if "traced" in lags:
        run.overhead = h.pct(lags["traced"], 50) / h.pct(lags["untraced"], 50)
