"""End-to-end CDC latency measurement — BASELINE.md metric 3.

The reference measures latency by decomposition (mysql_bench.clj
:184-261, formula :272-277): run N turns of the FULL cdc loop
(binlog2), N turns of raw DB updates only (binlog3), N turns of plain
reads only (binlog4), and report

    latency = full − writes − reads

Here the same three modes over the rebuilt stack:

  write  — append one transaction of real binlog bytes to a growing
           log file (the "raw DB update" half)
  decode — append + one BinlogTailer.turn() with a no-op event_fn
           (the "plain read" half: seek + incremental decode)
  full   — append + turn() feeding the parquet event-log + a RUNNING
           continuous query (file-stream source → foreachBatch sink);
           the turn ends when the new rows are visible at the sink

so `net = full − write − decode` isolates the streaming delivery
layer: parquet append + source discovery + micro-batch schedule +
sink visibility.  All three run the same per-turn transaction shape
(QUERY + TABLE_MAP + WRITE_ROWS + XID — the reference's 4-event
statement, :248-249).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import SparkSession

from mysql_cdc_spark import SCRATCH_ROOT
from mysql_cdc_spark.sources.binlog_codec import (
    TYPE_LONG,
    TYPE_NEWDECIMAL,
    TYPE_VARCHAR,
    WRITE_ROWS_EVENT,
    BinlogWriter,
    TableDef,
)
from mysql_cdc_spark.streaming.binlog_tailer import BinlogTailer

_T = TableDef("foo", "auto", [(TYPE_LONG, None), (TYPE_NEWDECIMAL, (12, 4)), (TYPE_VARCHAR, 50)])
_CAT = {("foo", "auto"): ["id", "val", "word"]}
_EVENTS_PER_TURN = 4  # query + table_map + write_rows + xid


class _GrowingLog:
    """Incrementally append whole transactions to a binlog file on
    disk (only the NEW bytes are written each turn)."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.w = BinlogWriter()
        self.flushed = 0
        self._flush()

    def _flush(self) -> None:
        data = self.w.getvalue()
        with open(self.path, "ab") as fh:
            fh.write(data[self.flushed:])
        self.flushed = len(data)

    def append_txn(self, i: int) -> None:
        self.w.write_query("foo", "UPDATE foo.auto SET val = ? WHERE id = ?", ts=i)
        self.w.write_table_map(_T, ts=i)
        self.w.write_rows(WRITE_ROWS_EVENT, _T, [[i, f"{i}.0000", "x"]], ts=i)
        self.w.write_xid(i, ts=i)
        self._flush()


def measure_latency(
    spark: SparkSession,
    turns: int = 20,
    scratch_root: str = SCRATCH_ROOT,
    trigger_seconds: float = 0.05,
    timeout: float = 30.0,
) -> dict:
    """Run the three modes and return per-turn seconds:
    {"full": f, "write": w, "decode": d, "net": f - w - d, "turns": n}.
    """
    scratch = os.path.join(scratch_root, f"lat_{uuid.uuid4().hex[:10]}")
    os.makedirs(os.path.join(scratch, "logs"), exist_ok=True)
    try:
        # --- write-only (binlog3 analog) -----------------------------
        log = _GrowingLog(os.path.join(scratch, "logs", "w.bin"))
        t0 = time.perf_counter()
        for i in range(turns):
            log.append_txn(i)
        t_write = time.perf_counter() - t0

        # --- write + incremental decode (binlog4 analog) -------------
        log = _GrowingLog(os.path.join(scratch, "logs", "d.bin"))
        tailer = BinlogTailer(os.path.join(scratch, "logs"), "d.bin", lambda b: None, _CAT)
        tailer.turn()  # consume the FDE/preamble outside the timed loop
        t0 = time.perf_counter()
        for i in range(turns):
            log.append_txn(i)
            tailer.turn()
        t_decode = time.perf_counter() - t0

        # --- full path (binlog2 analog) ------------------------------
        from mysql_cdc_spark.streaming import runtime as rt

        ev_dir = os.path.join(scratch, "event_log")
        log = _GrowingLog(os.path.join(scratch, "logs", "f.bin"))
        tailer = BinlogTailer(
            os.path.join(scratch, "logs"), "f.bin",
            rt.binlog_event_log_fn(spark, ev_dir), _CAT,
        )
        # Materialize the (empty-but-typed) event log dir, then start
        # ONE continuous query; per turn we wait for sink visibility.
        seen = {"rows": 0}

        def count_rows(batch_df, batch_id) -> None:
            seen["rows"] += batch_df.count()

        tailer.turn()
        os.makedirs(ev_dir, exist_ok=True)  # preamble delivers no events
        query = (
            rt.open_binlog_stream(spark, ev_dir)
            .writeStream.foreachBatch(count_rows)
            .option("checkpointLocation", os.path.join(scratch, "cp"))
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )
        try:
            t0 = time.perf_counter()
            expected = 0
            for i in range(turns):
                log.append_txn(i)
                tailer.turn()
                expected += _EVENTS_PER_TURN
                deadline = time.monotonic() + timeout
                while seen["rows"] < expected:
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"sink saw {seen['rows']}/{expected} rows after {timeout}s"
                        )
                    time.sleep(0.01)
            t_full = time.perf_counter() - t0
        finally:
            query.stop()

        # --- push path (the reference's ACTUAL hot path: inotify wake
        # → reader thread → bounded queue → blocking cursor; JNotify
        # mysql_binlog.clj:833-857 + LinkedBlockingQueue jdbc.clj:44).
        # No Spark job per turn, so no micro-batch scheduling floor —
        # this is the ms-latency mode; `net` above prices the durable
        # Structured-Streaming path.
        from mysql_cdc_spark.streaming.push import PushDelivery

        log = _GrowingLog(os.path.join(scratch, "logs", "p.bin"))
        delivery = PushDelivery(
            os.path.join(scratch, "logs"), "p.bin", _CAT
        ).start()
        try:
            cur = delivery.cursor()
            t0 = time.perf_counter()
            for i in range(turns):
                log.append_txn(i)
                # turn ends when this txn's COMMIT reaches the cursor
                while True:
                    if not cur.next(timeout=timeout):
                        raise TimeoutError(f"push cursor stalled on txn {i}")
                    if cur.current["op"] == "xid" and cur.current["xid"] == i:
                        break
            t_push = time.perf_counter() - t0
        finally:
            delivery.stop()

        # --- durable push (r8): same hot path with the per-turn
        # position journal (atomic tmp+rename JSON) — prices the
        # restart-without-loss guarantee the reference lacks.
        log = _GrowingLog(os.path.join(scratch, "logs", "pj.bin"))
        delivery = PushDelivery(
            os.path.join(scratch, "logs"), "pj.bin", _CAT,
            journal_path=os.path.join(scratch, "pj.journal"),
        ).start()
        try:
            cur = delivery.cursor()
            t0 = time.perf_counter()
            for i in range(turns):
                log.append_txn(i)
                while True:
                    if not cur.next(timeout=timeout):
                        raise TimeoutError(f"durable push cursor stalled on txn {i}")
                    if cur.current["op"] == "xid" and cur.current["xid"] == i:
                        break
            t_push_j = time.perf_counter() - t0
        finally:
            delivery.stop()

        return {
            "full": round(t_full / turns, 4),
            "write": round(t_write / turns, 4),
            "decode": round(t_decode / turns, 4),
            "net": round((t_full - t_write - t_decode) / turns, 4),
            "push": round(t_push / turns, 4),
            "push_net": round((t_push - t_write) / turns, 4),
            "push_durable": round(t_push_j / turns, 4),
            "turns": turns,
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
