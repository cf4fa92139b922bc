"""Seeded load generator for the CDC benchmark.

Runs as its own single-threaded process and writes real binlog bytes
(CRC32-framed, v2 rows events, ROTATE-chained files) through the
library's public ``BinlogWriter``.  It is also the correctness oracle:
every run leaves a JSON manifest with the latest state it wrote (the
replay of its own changes) and the ordered ``foo.auto`` updates a push
cursor must deliver.

Two modes:

``backlog``  writes a finished backlog of rotated files and exits.
             Keys repeat, so a consumer sees inserts, updates and
             deletes of the same keys (tombstones included).
``live``     appends transactions to an existing directory on an
             open-loop schedule: transaction ``i`` is due at
             ``t0 + i / rate`` on CLOCK_MONOTONIC, is written as soon
             as it is due and never later because a consumer is slow.
             The due time is stamped into every row's ``stamp`` column.

Both record every transaction as ``[due, file, end_pos, rows]`` (a
backlog's "due" is its index), so a consumer can map a committed end
offset back to the transactions it made visible.

    python3 perfbench/gen.py backlog --seed 1 --out DIR --txns 2000
    python3 perfbench/gen.py live --seed 1 --dir DIR --state-in MANIFEST.json \\
        --rate 50 --seconds 10 --t0-ns N --manifest OUT.json
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_cdc_spark.sources.binlog_codec import (  # noqa: E402
    DELETE_ROWS_EVENT,
    TYPE_LONG,
    TYPE_LONGLONG,
    TYPE_NEWDECIMAL,
    TYPE_VARCHAR,
    UPDATE_ROWS_EVENT,
    WRITE_ROWS_EVENT,
    BinlogWriter,
    TableDef,
)

# The reference bench shape (id INT, val DECIMAL(12,4), word
# VARCHAR(50)) plus a BIGINT stamp column carrying the due time.
COLUMNS = ["id", "val", "word", "stamp"]
_COLTYPES = [
    (TYPE_LONG, None), (TYPE_NEWDECIMAL, (12, 4)), (TYPE_VARCHAR, 50),
    (TYPE_LONGLONG, None),
]
TABLES = [
    TableDef("foo", "auto", list(_COLTYPES), table_id=1),
    TableDef("bench", "big", list(_COLTYPES), table_id=2),
]
TABLE_NAMES = [f"{t.db}.{t.table}" for t in TABLES]
CATALOG = {(t.db, t.table): list(COLUMNS) for t in TABLES}
PUSH_TABLE = "foo.auto"

_OPS = {"insert": WRITE_ROWS_EVENT, "update": UPDATE_ROWS_EVENT,
        "delete": DELETE_ROWS_EVENT}
_WORDS = [
    "".join(chr(97 + (i * 7 + j * 3) % 26) for j in range(3 + i % 12))
    for i in range(512)
]


def log_name(i: int) -> str:
    return f"binlog.{i:06d}"


class Model:
    """Latest state per table, the generator's own oracle.  ``state[t]``
    maps key -> [val, word, stamp]; ``keys[t]`` lists the live keys so
    updates and deletes pick one in O(1)."""

    def __init__(self, rng: random.Random, key_space: int,
                 state: dict | None = None) -> None:
        self.rng = rng
        self.key_space = key_space
        self.state: list[dict[int, list]] = [{} for _ in TABLES]
        if state is not None:
            for ti, name in enumerate(TABLE_NAMES):
                self.state[ti] = {int(k): v for k, v in state[name].items()}
        self.keys = [list(s) for s in self.state]
        self.pos = [{k: i for i, k in enumerate(ks)} for ks in self.keys]

    def _value(self, stamp: int) -> list:
        r = self.rng
        cents = r.randrange(-10**11, 10**11)
        sign = "-" if cents < 0 else ""
        val = f"{sign}{abs(cents) // 10**4}.{abs(cents) % 10**4:04d}"
        return [val, r.choice(_WORDS), stamp]

    def _add(self, ti: int, k: int) -> None:
        self.pos[ti][k] = len(self.keys[ti])
        self.keys[ti].append(k)

    def _remove(self, ti: int, k: int) -> None:
        i = self.pos[ti].pop(k)
        last = self.keys[ti].pop()
        if last != k:
            self.keys[ti][i] = last
            self.pos[ti][last] = i

    def txn(self, ti: int, ops: list[str], stamp: int) -> list[tuple]:
        """Apply one transaction of row ops on table ``ti``; returns
        (op, key, before, after) per row.  Keys are distinct within a
        transaction.  An insert with no free key, or an update/delete
        with no live key, turns into the op that can run."""
        st, live, rows, used = self.state[ti], self.keys[ti], [], set()
        for op in ops:
            free = len(live) < self.key_space * 0.9
            if op != "insert" and len(live) - len(used) < 1:
                op = "insert"
            elif op == "insert" and not free:
                op = "update"
            if op == "insert":
                k = self.rng.randrange(1, self.key_space + 1)
                while k in st or k in used:
                    k = self.rng.randrange(1, self.key_space + 1)
                after = self._value(stamp)
                st[k] = after
                self._add(ti, k)
                rows.append((op, k, None, after))
            else:
                k = live[self.rng.randrange(len(live))]
                while k in used:
                    k = live[self.rng.randrange(len(live))]
                before = st[k]
                if op == "update":
                    after = self._value(stamp)
                    st[k] = after
                    rows.append((op, k, before, after))
                else:
                    del st[k]
                    self._remove(ti, k)
                    rows.append((op, k, before, None))
            used.add(k)
        return rows

    def dump(self) -> dict:
        return {name: {str(k): v for k, v in self.state[ti].items()}
                for ti, name in enumerate(TABLE_NAMES)}


def mixed_ops(rng: random.Random) -> list[str]:
    """1-8 rows, insert/update/delete 35/50/15."""
    out = []
    for _ in range(rng.randint(1, 8)):
        r = rng.random()
        out.append("insert" if r < 0.35 else "update" if r < 0.85 else "delete")
    return out


def encode_txn(w: BinlogWriter, xid: int, ti: int, rows: list[tuple]) -> None:
    """BEGIN, TABLE_MAP, one v2 rows event per run of equal ops, XID."""
    t = TABLES[ti]
    w.write_query(t.db, "BEGIN")
    w.write_table_map(t)
    i = 0
    while i < len(rows):
        j = i
        while j < len(rows) and rows[j][0] == rows[i][0]:
            j += 1
        op = rows[i][0]
        if op == "insert":
            payload = [[k, *a] for _, k, _, a in rows[i:j]]
        elif op == "delete":
            payload = [[k, *b] for _, k, b, _ in rows[i:j]]
        else:
            payload = [([k, *b], [k, *a]) for _, k, b, a in rows[i:j]]
        w.write_rows(_OPS[op], t, payload, v2=True)
        i = j
    w.write_xid(xid)


def _push_rows(ti: int, rows: list[tuple]) -> list[list]:
    """The rows a ``foo.auto`` update cursor must deliver, in order."""
    if TABLE_NAMES[ti] != PUSH_TABLE:
        return []
    return [[k, *a] for op, k, _, a in rows if op == "update"]


def backlog(args) -> dict:
    """Write a snapshot load (``--snapshot-keys`` per table, inserted
    8 rows per transaction) followed by ``--txns`` mixed transactions,
    into ``--files`` rotated files."""
    rng = random.Random(f"{args.seed}-backlog")
    model = Model(rng, args.key_space)
    os.makedirs(args.out, exist_ok=True)
    plan = [(ti, ["insert"] * 8) for _ in range(args.snapshot_keys // 8)
            for ti in range(len(TABLES))]
    plan += [(rng.randrange(len(TABLES)), mixed_ops(rng)) for _ in range(args.txns)]
    per_file = -(-len(plan) // args.files)
    txns, push, nbytes, fi = [], [], 0, 1
    w = BinlogWriter(checksum="crc32")
    for x, (ti, ops) in enumerate(plan):
        rows = model.txn(ti, ops, stamp=x)
        encode_txn(w, x + 1, ti, rows)
        txns.append([x, log_name(fi), w.offset, len(rows)])
        push += _push_rows(ti, rows)
        last = x == len(plan) - 1
        if (x + 1) % per_file == 0 or last:
            if not last:
                w.write_rotate(log_name(fi + 1))
            data = w.getvalue()
            with open(os.path.join(args.out, log_name(fi)), "wb") as fh:
                fh.write(data)
            nbytes += len(data)
            fi += 1
            w = BinlogWriter(checksum="crc32")
    return {"txns": txns, "rows": sum(t[3] for t in txns), "bytes": nbytes,
            "files": fi - 1, "state": model.dump(), "push": push}


def _append(fd: int, data: bytes) -> None:
    view = memoryview(data)
    while view:
        view = view[os.write(fd, view):]


def live(args) -> dict:
    """Open loop: transaction i is due at t0 + i/rate; a late generator
    writes immediately and records how late it was."""
    with open(args.state_in) as fh:
        # one stream per output, so two live phases of a run differ
        stream = os.path.basename(args.manifest)
        model = Model(random.Random(f"{args.seed}-live-{stream}"),
                      args.key_space, json.load(fh)["state"])
    rng = model.rng
    names = sorted(n for n in os.listdir(args.dir) if n.startswith("binlog."))
    fi = int(names[-1].rsplit(".", 1)[1])
    path = os.path.join(args.dir, log_name(fi))
    w = BinlogWriter(checksum="crc32")
    with open(path, "rb") as fh:
        w.buf = bytearray(fh.read())  # continue the file: absolute next_pos
    fd = os.open(path, os.O_WRONLY | os.O_APPEND)
    n = int(round(args.rate * args.seconds))
    period_ns = int(1e9 / args.rate)
    rotate_at = int(n * args.rotate_at) if args.rotate_at > 0 else -1
    txns, push, late, nbytes = [], [], [], 0
    try:
        for i in range(n):
            due = args.t0_ns + i * period_ns
            now = time.monotonic_ns()
            if due > now:
                time.sleep((due - now) / 1e9)
            ti = i % len(TABLES) if args.alternate else rng.randrange(len(TABLES))
            rows = model.txn(ti, ["update"] * args.rows, stamp=due)
            start = w.offset
            encode_txn(w, 10**9 + i, ti, rows)
            end = w.offset
            if i == rotate_at:
                w.write_rotate(log_name(fi + 1))
            _append(fd, bytes(w.buf[start:]))
            written = time.monotonic_ns()
            nbytes += w.offset - start
            txns.append([due, log_name(fi), end, len(rows)])
            push += _push_rows(ti, rows)
            late.append(written - due)
            if i == rotate_at:
                os.close(fd)
                fi += 1
                w = BinlogWriter(checksum="crc32")
                path = os.path.join(args.dir, log_name(fi))
                fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
                _append(fd, w.getvalue())
                nbytes += w.offset
    finally:
        os.close(fd)
    return {"txns": txns, "rows": sum(t[3] for t in txns), "bytes": nbytes,
            "late_ns": late, "state": model.dump(), "push": push}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="mode", required=True)
    b = sub.add_parser("backlog")
    b.add_argument("--out", required=True)
    b.add_argument("--txns", type=int, required=True)
    b.add_argument("--files", type=int, default=1)
    b.add_argument("--snapshot-keys", type=int, default=0)
    lv = sub.add_parser("live")
    lv.add_argument("--dir", required=True)
    lv.add_argument("--state-in", required=True)
    lv.add_argument("--rate", type=float, required=True)
    lv.add_argument("--seconds", type=float, required=True)
    lv.add_argument("--t0-ns", type=int, required=True)
    lv.add_argument("--rows", type=int, default=1)
    lv.add_argument("--rotate-at", type=float, default=0.0,
                    help="rotate after this share of the transactions (0: never)")
    lv.add_argument("--alternate", action="store_true",
                    help="interleave the tables strictly instead of at random")
    for s in (b, lv):
        s.add_argument("--seed", type=int, required=True)
        s.add_argument("--key-space", type=int, required=True)
        s.add_argument("--manifest", required=True)
    args = p.parse_args(argv)
    t0 = time.perf_counter()
    out = backlog(args) if args.mode == "backlog" else live(args)
    out["gen_s"] = time.perf_counter() - t0
    tmp = args.manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, args.manifest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
