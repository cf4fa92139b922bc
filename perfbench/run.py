"""CDC benchmark over real binlog bytes.

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/NOTES.md for why each exists):

``replicate``  binlog bytes -> readStream.format("mysql_binlog") ->
               envelope_to_typed_rows -> StateTable.merger().  First a
               backfill: a rotated ~32k-key backlog drained three times with
               availableNow (catch-up), checked and read back.  Then
               live: an open-loop trickle of 50 txn/s under a
               processingTime trigger, one reader alongside (lag).
``push_tail``  no Spark: execute_query_push over an interleaved log,
               a backlog drain (catch-up), then an open loop of
               500 txn/s (lag).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  Lines before it print every
metric by name and unit, including the ones BENCHMARK.json cannot gate.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import harness as h  # noqa: E402

E2E = {"setup_s": "s", "catchup_rows_per_s": "1/s", "lag_p50_ms": "ms",
       "peak_rss_mb": "MB"}
_SPARK_UNITS = {"tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
                "gc_s": "s", "shuffle_write_bytes": "bytes",
                "shuffle_read_bytes": "bytes", "spill_bytes": "bytes"}
LAYER = {
    "codec.busy_s": "s", "codec.frames": "count", "codec.row_images": "count",
    "codec.row_images_per_busy_s": "1/s", "codec.parallel_efficiency": "ratio",
    "datasource.scan_s": "s", "datasource.partitions": "count",
    "datasource.latest_offset_ms": "ms", "datasource.input_rows_per_trigger": "count",
    "state_table.typed_s": "s", "state_table.catchup_merge_s": "s",
    "state_table.merge_p50_s": "s", "state_table.merge_total_s": "s",
    "state_table.merges": "count", "state_table.merge_rows": "count",
    "state_table.version_bytes": "bytes", "state_table.reads": "count",
    "state_table.read_retries": "count",
    "state_table.read_p50_ms": "ms",
    "stream.batches": "count", "stream.trigger_ms": "ms", "stream.planning_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    **{f"spark.{k}": u for k, u in _SPARK_UNITS.items()},
    **{f"spark.catchup.{k}": u for k, u in _SPARK_UNITS.items()},
    "tailer.turns": "count", "tailer.turn_p50_ms": "ms", "tailer.turn_p99_ms": "ms",
    "tailer.bytes_per_turn": "bytes", "push.cursor_wait_ms": "ms",
    "push.queue_depth_max": "count", "api.open_ms": "ms",
    "gen_s": "s", "gen.txns": "count", "gen.bytes": "bytes", "gen.late_p99_ms": "ms",
    "trace.overhead_ratio": "ratio",
}

WARM = {"txns": 200, "files": 2, "key_space": 500}
SIZES = {
    "full": {
        "replicate": {"backlog": {"snapshot_keys": 15000, "txns": 6000, "files": 8,
                                  "key_space": 18000},
                      "key_space": 18000, "lookups": 8, "rate": 50, "rows": 4,
                      "limit_ms": 10000},
        "push_tail": {"backlog": {"txns": 8000, "files": 4, "key_space": 20000},
                      "key_space": 20000, "rate": 500, "drains": 5, "limit_ms": 50},
    },
    "tiny": {
        "replicate": {"backlog": {"snapshot_keys": 200, "txns": 200, "files": 3,
                                  "key_space": 300},
                      "key_space": 300, "lookups": 5, "rate": 20, "rows": 4,
                      "limit_ms": 10000},
        "push_tail": {"backlog": {"txns": 300, "files": 3, "key_space": 200},
                      "key_space": 200, "rate": 100, "drains": 2, "limit_ms": 50},
    },
}
SPARK = ("replicate",)
SETUP_PROBES = {"push_tail": 2}  # extra set-ups in child processes (see NOTES.md)
LATE_SHARE = 0.2      # generator lateness allowed, as a share of the p99 limit
DEADLINE_S = 150      # a run still going after this fails (teardown fits in 180 s)


class Run:
    def __init__(self, args) -> None:
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.perturb = args.perturb
        self.cfg = SIZES[args.size][args.workload]
        self.work = os.path.join(h.WORK, f"run-{os.getpid()}")
        self.tracer = h.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}",
                               enabled=bool(args.trace))
        self.inputs: dict = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.gen_live: list[dict] = []
        self.attempted = self.failed = 0
        self.overhead = 0.0
        self.windows: dict[str, tuple[float, float]] = {}

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def inputs(run: Run, size: str) -> tuple[dict, float]:
    """Both input sets (the workload's and the warm-up's) from the
    seeded generator; returns (warm-up inputs, generation seconds)."""
    warm_dir, warm_man = h.backlog("warm", run.seed, **WARM)
    log_dir, man = h.backlog(f"{run.workload}-{size}", run.seed, **run.cfg["backlog"])
    run.inputs = {"log_dir": log_dir, "manifest": man,
                  "manifest_path": os.path.join(os.path.dirname(log_dir), "manifest.json")}
    return {"log_dir": warm_dir, "manifest": warm_man}, warm_man["gen_s"] + man["gen_s"]


def setup(run: Run, warm: dict):
    """Everything a user pays before the first change is consumed."""
    if run.workload in SPARK:
        import spark_bench as sb

        sb.spark_env(run.work, os.path.join(run.work, "eventlog")
                     if run.tracer.enabled else None)
        spark = sb.start_session()
        sb.warm_up(spark, warm["log_dir"], run.work)
        return spark
    import push_bench as pb

    stmt = pb.open_statement(run.work)
    pb.warm_up(stmt, warm["log_dir"], warm["manifest"], run.work)
    return stmt


def teardown(run: Run, handle) -> None:
    if run.workload in SPARK and handle is not None:
        import spark_bench as sb

        sb.stop_session(handle)


def setup_probes(args) -> list[float]:
    """Set up again in fresh processes, one at a time."""
    out = []
    for _ in range(SETUP_PROBES.get(args.workload, 0)):
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--size", args.size, "--setup-probe"],
            stdout=subprocess.PIPE, text=True, timeout=120, check=True)
        out.append(json.loads(res.stdout.strip().splitlines()[-1])["setup_s"])
    return out


def layer_metrics(run: Run, handle) -> None:
    """The per-layer probes that run after the measured phases."""
    log_dir = run.inputs["log_dir"]
    run.layer.update(h.codec_probe(log_dir, run.tracer))
    if run.workload in SPARK:
        import spark_bench as sb

        run.layer.update(sb.datasource_probe(handle, log_dir, run.tracer))
    rate = run.layer["codec.row_images_per_busy_s"]
    run.layer["codec.parallel_efficiency"] = (
        run.e2e["catchup_rows_per_s"] / (h.nproc() * rate) if rate else 0.0)


def gen_metrics(run: Run, gen_s: float) -> dict:
    man = run.inputs["manifest"]
    late = [ns / 1e6 for g in run.gen_live for ns in g["late_ns"]]
    return {"gen_s": gen_s,
            "gen.txns": len(man["txns"]) + sum(len(g["txns"]) for g in run.gen_live),
            "gen.bytes": man["bytes"] + sum(g["bytes"] for g in run.gen_live),
            "gen.late_p99_ms": h.pct(late, 99)}


def report(run: Run, args, correct: bool, notes: list[str]) -> None:
    ratio = run.failed / run.attempted if run.attempted else 1.0
    table = dict(run.e2e)
    table.update(run.extra)
    table["failed_ops_ratio"] = ratio
    units = {**E2E, **LAYER, "lag_p90_ms": "ms", "lag_p99_ms": "ms", "read_p50_ms": "ms",
             "catchup_read_p50_ms": "ms", "failed_ops_ratio": "ratio"}
    for k, v in table.items():
        print(f"{run.workload:10s} {k:34s} {v:16.6f} {units.get(k, 'count')}")
    if args.trace:
        for k in LAYER:
            print(f"{run.workload:10s} {k:34s} {run.layer.get(k, 0.0):16.6f} {LAYER[k]}")
    for n in notes:
        print(f"{run.workload:10s} note: {n}")
    names = LAYER if args.trace else E2E
    src = run.layer if args.trace else run.e2e
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": float(src.get(k, 0.0)), "unit": names[k]} for k in names},
    }))


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="CDC benchmark over real binlog bytes")
    p.add_argument("--workload", required=True, choices=sorted(SIZES["full"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="tiny: the smoke test's inputs")
    p.add_argument("--perturb", action="store_true",
                   help="negative check: corrupt one expected row")
    p.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    t_imports = time.monotonic() - T_START
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    run = Run(args)
    os.makedirs(run.work)
    handle = None
    try:
        warm, gen_s = inputs(run, args.size)
        probes = [] if args.trace or args.setup_probe else setup_probes(args)
        t0 = time.monotonic()
        handle = setup(run, warm)
        setup_s = t_imports + time.monotonic() - t0
        if args.setup_probe:
            teardown(run, handle)
            handle = None
            print(json.dumps({"setup_s": setup_s}))
            return 0
        run.e2e["setup_s"] = h.median([setup_s, *probes])
        if run.workload in SPARK:
            import spark_bench as sb

            sb.replicate(run, handle)
        else:
            import push_bench as pb

            pb.push_tail(run, handle)
        if args.trace:
            layer_metrics(run, handle)
        run.e2e["peak_rss_mb"] = h.peak_rss_mb()
        teardown(run, handle)
        handle = None
        if args.trace:
            import spark_bench as sb

            for prefix, window in run.windows.items():
                run.layer.update(sb.spark_task_metrics(
                    os.path.join(run.work, "eventlog"), *window, prefix))
        run.layer.update(gen_metrics(run, gen_s))
        run.layer["trace.overhead_ratio"] = run.overhead
        if args.trace:
            run.tracer.write(os.path.join(h.WORK, "trace", f"{run.tracer.run_id}.json"))
    except BaseException:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        try:
            teardown(run, handle)
        finally:
            os.chdir(h.ROOT)
            shutil.rmtree(run.work, ignore_errors=True)

    notes, correct = [], run.failed == 0
    limit = run.cfg.get("limit_ms")
    if limit is not None:
        sustained = run.extra["lag_p99_ms"] <= limit
        notes.append(f"{run.cfg['rate']} txn/s {'sustained' if sustained else 'NOT sustained'}: "
                     f"lag p99 {run.extra['lag_p99_ms']:.3f} ms vs limit {limit} ms")
        late = run.layer["gen.late_p99_ms"]
        if late > LATE_SHARE * limit:
            correct = False
            notes.append(f"invalid run: generator late p99 {late:.3f} ms "
                         f"> {LATE_SHARE * limit:.3f} ms")
    if run.failed:
        notes.append(f"{run.failed} of {run.attempted} operations failed the oracle")
    report(run, args, correct, notes)
    return 0


if __name__ == "__main__":
    sys.exit(main())
