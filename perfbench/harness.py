"""Shared benchmark machinery: paths, cached generator inputs, the
oracle comparison, spans, percentiles and process accounting."""

from __future__ import annotations

import contextlib
import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Everything a run writes lives under the checkout, in one ignored dir.
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(WORK, "cache")
CACHE_KEEP = 12  # newest input sets kept; older ones are pruned

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import gen  # noqa: E402  (perfbench/gen.py, importable from HERE)
from mysql_cdc_spark.sources.binlog_codec import decode_binlog  # noqa: E402


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- statistics ---------------------------------------------------------


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); 0.0 for no samples."""
    vals = sorted(values)
    if not vals:
        return 0.0
    return float(vals[max(1, math.ceil(q / 100 * len(vals))) - 1])


def median(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


# -- generator inputs ---------------------------------------------------


def _run_gen(args: list[str], timeout: float) -> None:
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), *args])
    try:
        if proc.wait(timeout=timeout) != 0:
            raise RuntimeError(f"generator failed: {args}")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def backlog(name: str, seed: int, **params) -> tuple[str, dict]:
    """Generate (or reuse) a seeded backlog; returns (dir, manifest).
    The cache key is the seed and every generator parameter."""
    os.makedirs(CACHE, exist_ok=True)
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    d = os.path.join(CACHE, f"{name}-s{seed}-{tag}")
    man = os.path.join(d, "manifest.json")
    if not os.path.exists(man):
        shutil.rmtree(d, ignore_errors=True)
        logs = os.path.join(d, "logs")
        args = ["backlog", "--seed", str(seed), "--out", logs,
                "--manifest", man]
        for k, v in params.items():
            flag = "--" + k.replace("_", "-")
            if v is True:
                args.append(flag)
            elif v is not False:
                args += [flag, str(v)]
        _run_gen(args, timeout=120)
    else:
        os.utime(d)
    entries = sorted(
        (os.path.join(CACHE, e) for e in os.listdir(CACHE)),
        key=os.path.getmtime,
    )
    for old in entries[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    with open(man) as fh:
        return os.path.join(d, "logs"), json.load(fh)


class LiveGen:
    """The open-loop generator process appending to ``log_dir``."""

    def __init__(self, seed: int, log_dir: str, state_from: str,
                 manifest: str, key_space: int, rate: float,
                 seconds: float, rows: int, rotate_at: float = 0.0,
                 alternate: bool = False, lead_s: float = 0.5) -> None:
        self.manifest = manifest
        self.t0_ns = time.monotonic_ns() + int(lead_s * 1e9)
        args = ["live", "--seed", str(seed), "--dir", log_dir,
                "--state-in", state_from, "--manifest", manifest,
                "--key-space", str(key_space), "--rate", str(rate),
                "--seconds", str(seconds), "--t0-ns", str(self.t0_ns),
                "--rows", str(rows), "--rotate-at", str(rotate_at)]
        if alternate:
            args.append("--alternate")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), *args]
        )

    def done(self) -> bool:
        return self.proc.poll() is not None

    def result(self, timeout: float) -> dict:
        try:
            rc = self.proc.wait(timeout=timeout)
        finally:
            self.stop()
        if rc != 0:
            raise RuntimeError(f"live generator exited {rc}")
        with open(self.manifest) as fh:
            return json.load(fh)

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


# -- oracle ---------------------------------------------------------------


def norm(row) -> tuple:
    """(val, word, stamp) compared exactly; DECIMAL by value."""
    val, word, stamp = row
    return (None if val is None else Decimal(str(val)), word,
            None if stamp is None else int(stamp))


def compare_state(expected: dict, actual: dict) -> tuple[int, int]:
    """Latest-state check: ``expected``/``actual`` map table name ->
    {key: [val, word, stamp]}.  Every expected key must be present with
    its value; any other key (a deleted or never-written one) is a
    failure.  Returns (attempted, failed)."""
    attempted = failed = 0
    for name in gen.TABLE_NAMES:
        exp = {int(k): norm(v) for k, v in expected.get(name, {}).items()}
        act = {int(k): norm(v) for k, v in actual.get(name, {}).items()}
        attempted += len(exp) + len(act.keys() - exp.keys())
        failed += sum(1 for k, v in exp.items() if act.get(k) != v)
        failed += len(act.keys() - exp.keys())
    return attempted, failed


def compare_sequence(expected: list, actual: list) -> tuple[int, int]:
    """Exactly-once, in-order delivery: position i of the delivered
    rows must be the generator's i-th row.  Missing, duplicated,
    reordered or wrong rows all fail.  Returns (attempted, failed)."""
    exp = [(int(r[0]), *norm(r[1:])) for r in expected]
    act = [(int(r[0]), *norm(r[1:])) for r in actual]
    n = max(len(exp), len(act))
    failed = sum(
        1 for i in range(n)
        if i >= len(exp) or i >= len(act) or exp[i] != act[i]
    )
    return n, failed


def perturb_state(state: dict) -> dict:
    """The negative check: one expected row gets a wrong value."""
    out = {name: dict(rows) for name, rows in state.items()}
    for name in gen.TABLE_NAMES:
        if out.get(name):
            k = min(out[name], key=int)
            val, word, stamp = out[name][k]
            out[name][k] = [str(Decimal(val) + 1), word, stamp]
            return out
    raise ValueError("nothing to perturb: empty expected state")


def perturb_sequence(rows: list) -> list:
    out = [list(r) for r in rows]
    if not out:
        raise ValueError("nothing to perturb: empty expected sequence")
    out[0][1] = str(Decimal(out[0][1]) + 1)
    return out


# -- tracing --------------------------------------------------------------


class Tracer:
    """In-memory spans recorded from benchmark code around calls into
    the library: (id, parent, name, start_ns, end_ns, attrs).  A span
    with no enclosing span on its own thread is parented to ``root``,
    the phase span that caused it (foreachBatch and the tailer run on
    other threads).  Disabled, ``span`` costs one attribute test."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        stack.append(sid)
        t0 = time.monotonic_ns()
        try:
            yield attrs
        finally:
            t1 = time.monotonic_ns()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, name, t0, t1, attrs))

    @contextlib.contextmanager
    def phase(self, name: str):
        """A root span for one measured phase."""
        with self.span(name) as attrs:
            prev = self.root
            if self.enabled:
                self.root = self._local.stack[-1]
            try:
                yield attrs
            finally:
                self.root = prev

    def durations(self, name: str, **match) -> list[float]:
        """Durations in seconds of every span called ``name`` whose
        attributes include ``match``."""
        return [(e - s) / 1e9 for _, _, n, s, e, a in self.spans
                if n == name and all(a.get(k) == v for k, v in match.items())]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of it covered
        by the span's children (children of one span never overlap
        except across threads, so their union is taken)."""
        kids: dict[int, list[tuple[int, int]]] = {}
        for _, parent, _, s, e, _ in self.spans:
            if parent is not None:
                kids.setdefault(parent, []).append((s, e))
        out: dict[str, float] = {}
        for sid, _, name, s, e, _ in self.spans:
            covered, cur_s, cur_e = 0, None, None
            for cs, ce in sorted(kids.get(sid, [])):
                cs, ce = max(cs, s), min(ce, e)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[name] = out.get(name, 0.0) + (e - s - covered) / 1e9
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({
                "run_id": self.run_id,
                "spans": [
                    {"id": i, "parent": p, "name": n, "start_ns": s,
                     "end_ns": e, "attrs": a}
                    for i, p, n, s, e, a in self.spans
                ],
                "self_s": self.self_times(),
            }, fh)


def codec_probe(log_dir: str, tracer) -> dict:
    """Single-thread decode_binlog over the workload's own files: the
    serial baseline."""
    frames = rows = 0
    busy = 0.0
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), "rb") as fh:
            data = fh.read()
        with tracer.span("codec.decode_binlog", file=name):
            t0 = time.perf_counter()
            evs = decode_binlog(data, gen.CATALOG)
            busy += time.perf_counter() - t0
        frames += len(evs)
        rows += sum(len(e["after"] or e["before"] or []) for e in evs
                    if e["op"].endswith("_rows"))
    return {"codec.busy_s": busy, "codec.frames": frames,
            "codec.row_images": rows,
            "codec.row_images_per_busy_s": rows / busy if busy else 0.0}


# -- processes ------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def descendants(pid: int | None = None) -> list[int]:
    todo, out = [pid or os.getpid()], []
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its JVM child, in MB."""
    kb = _hwm_kb(os.getpid())
    kb += sum(_hwm_kb(p) for p in descendants() if _is_java(p))
    return kb / 1024


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; returns the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
