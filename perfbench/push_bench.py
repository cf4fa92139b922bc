"""The Spark-free workload, ``push_tail``: binlog bytes ->
``streaming.binlog_tailer`` -> ``streaming.push`` -> the filtered cursor
of ``api.CDCStatement.execute_query_push``."""

from __future__ import annotations

import os
import time

import gen
import harness as h

SQL = "select * from foo.auto where _delta_type = 'update'"
WAIT_S = 30  # longest a drain may take, and the grace after the open loop


def open_statement(work: str):
    from mysql_cdc_spark.api import connect

    return connect(f"jdbc:mysql-cdc:{work}", None).create_statement()


def _row(rec: dict) -> list:
    a = rec["after"]
    return [int(a["id"]), a["val"], a["word"], int(a["stamp"])]


class Consumer:
    """One push query.  ``take`` reads matching rows with their arrival
    times; waits inside ``next()`` and the queue depth are sampled."""

    def __init__(self, stmt, log_dir: str, journal: str, tracer) -> None:
        t0 = time.perf_counter()
        with tracer.span("api.execute_query_push"):
            self.cursor, self.delivery = stmt.execute_query_push(
                SQL, log_dir, catalog=gen.CATALOG, journal_path=journal)
        self.open_ms = (time.perf_counter() - t0) * 1e3
        self.rows: list[list] = []
        self.arrived: list[int] = []
        self.wait_s = 0.0
        self.depth_max = 0

    def take(self, timeout: float) -> bool:
        t0 = time.perf_counter()
        ok = self.cursor.next(timeout=timeout)
        now = time.monotonic_ns()
        self.wait_s += time.perf_counter() - t0
        if ok:
            self.arrived.append(now)
            self.rows.append(_row(self.cursor.current))
            self.depth_max = max(self.depth_max, self.delivery.queue.qsize())
        return ok

    def close(self) -> None:
        self.delivery.stop()
        if self.delivery._thread.is_alive():
            raise TimeoutError("push tailer thread did not stop")


def drain(stmt, log_dir: str, journal: str, expected: list, tracer) -> tuple[Consumer, float]:
    """Open a push query over a finished log and read until the last
    expected row (timed), then briefly for extras (untimed)."""
    t0 = time.perf_counter()
    c = Consumer(stmt, log_dir, journal, tracer)
    try:
        deadline = time.monotonic() + WAIT_S
        while len(c.rows) < len(expected) and time.monotonic() < deadline:
            c.take(timeout=0.1)
        secs = time.perf_counter() - t0
        while c.take(timeout=0.2):
            pass
    finally:
        c.close()
    return c, secs


def warm_up(stmt, warm_dir: str, warm_man: dict, work: str) -> None:
    drain(stmt, warm_dir, os.path.join(work, "warm.journal"), warm_man["push"],
          h.Tracer("warm", enabled=False))


def trace_turns(tracer, read_bytes: list):
    """Wrap BinlogTailer.turn (class-wide, benchmark-side) in a span;
    returns the function that restores it."""
    from mysql_cdc_spark.streaming.binlog_tailer import BinlogTailer

    inner = BinlogTailer.turn

    def turn(self):
        with tracer.span("tailer.turn"):
            n = inner(self)
        read_bytes.append(self.last_read_bytes)
        return n

    BinlogTailer.turn = turn
    return lambda: setattr(BinlogTailer, "turn", inner)


def open_loop(run, stmt, phase: str) -> tuple[Consumer, dict]:
    """500 single-row update txn/s alternating the two tables, so the
    cursor filters half; a fresh log per phase."""
    from mysql_cdc_spark.sources.binlog_codec import BinlogWriter

    cfg = run.cfg
    log_dir = os.path.join(run.work, f"live-{phase}")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, gen.log_name(1)), "wb") as fh:
        fh.write(BinlogWriter(checksum="crc32").getvalue())
    c = Consumer(stmt, log_dir, os.path.join(run.work, f"live-{phase}.journal"), run.tracer)
    try:
        g = h.LiveGen(run.seed, log_dir, run.inputs["manifest_path"],
                      os.path.join(run.work, f"live-{phase}.json"),
                      cfg["key_space"], cfg["rate"], run.seconds, rows=1,
                      alternate=True)
        try:
            while not g.done():
                c.take(timeout=0.05)
            live = g.result(timeout=WAIT_S)
        finally:
            g.stop()
        deadline = time.monotonic() + WAIT_S
        while len(c.rows) < len(live["push"]) and time.monotonic() < deadline:
            c.take(timeout=0.05)
        while c.take(timeout=0.2):
            pass
    finally:
        c.close()
    return c, live


def push_tail(run, stmt) -> None:
    cfg, man = run.cfg, run.inputs["manifest"]
    log_dir = run.inputs["log_dir"]
    want = h.perturb_sequence(man["push"]) if run.perturb else man["push"]
    phases = ["untraced", "traced"] if run.tracer.enabled else ["untraced"]
    secs: dict[str, list[float]] = {}
    opens, turn_bytes, lag50 = [], [], {}
    for phase in phases:
        restore = trace_turns(run.tracer, turn_bytes) if phase == "traced" else None
        try:
            with run.tracer.phase(f"push_tail.drain.{phase}"):
                for i in range(cfg["drains"]):
                    c, s = drain(stmt, log_dir,
                                 os.path.join(run.work, f"drain-{phase}{i}.journal"),
                                 want, run.tracer)
                    secs.setdefault(phase, []).append(s)
                    opens.append(c.open_ms)
                    run.count(*h.compare_sequence(want, c.rows))
            with run.tracer.phase(f"push_tail.live.{phase}"):
                c, live = open_loop(run, stmt, phase)
        finally:
            if restore is not None:
                restore()
        expected = h.perturb_sequence(live["push"]) if run.perturb else live["push"]
        run.count(*h.compare_sequence(expected, c.rows))
        run.gen_live.append(live)
        lags = [(t - r[3]) / 1e6 for t, r in zip(c.arrived, c.rows)]
        lag50[phase] = h.pct(lags, 50)
        if phase == "untraced":
            run.e2e["lag_p50_ms"] = lag50[phase]
            run.extra["lag_p90_ms"] = h.pct(lags, 90)
            run.extra["lag_p99_ms"] = h.pct(lags, 99)
            run.extra["lag_samples"] = len(lags)
        else:
            turns = run.tracer.durations("tailer.turn")
            run.layer.update({
                "tailer.turns": len(turns),
                "tailer.turn_p50_ms": h.pct(turns, 50) * 1e3,
                "tailer.turn_p99_ms": h.pct(turns, 99) * 1e3,
                "tailer.bytes_per_turn": sum(turn_bytes) / len(turns) if turns else 0.0,
                "push.cursor_wait_ms": c.wait_s * 1e3,
                "push.queue_depth_max": c.depth_max,
                "api.open_ms": h.median(opens[cfg["drains"]:]),
            })
            run.overhead = lag50["traced"] / lag50["untraced"]
    run.e2e["catchup_rows_per_s"] = man["rows"] / h.median(secs["untraced"])
