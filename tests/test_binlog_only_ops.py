"""Delta-type (`only_ops`) filter-before-decode pushdown (r15 VERDICT
#7) — the R5 predicate pushed below decode, symmetric to
`only_tables` (test_binlog_pushdown.py is the template).

The reference filters delta-type POST-decode (jdbc.clj:180-182); here
a row event whose op is outside the set skips image parsing entirely.
Parity contract: `decode_binlog(data, only_ops=S)` produces exactly
`[e for e in decode_binlog(data) if keep(e)]` with `keep(e) = e.op
not a row op or e.op in S` — seq included (skipped frames still
consume a slot).  Documented asymmetries: (a) body corruption inside
a skipped frame on a checksum-free log is never observed; (b) a
skipped-op row event with NO preceding table map is dropped without
the attribution error a full decode raises (its op needs no map).
"""

from __future__ import annotations

import pytest

from mysql_cdc_spark.sources.binlog_codec import (
    DELETE_ROWS_EVENT,
    TYPE_LONG,
    TYPE_NEWDECIMAL,
    TYPE_VARCHAR,
    UPDATE_ROWS_EVENT,
    WRITE_ROWS_EVENT,
    BinlogWriter,
    TableDef,
    decode_binlog,
)
from mysql_cdc_spark.sources.binlog_source import envelope_records

COLS = [(TYPE_LONG, None), (TYPE_NEWDECIMAL, (12, 4)), (TYPE_VARCHAR, 50)]
AUTO = TableDef("foo", "auto", COLS, table_id=1)
BIG = TableDef("bench", "big", COLS, table_id=2)
CAT = {("foo", "auto"): ["id", "val", "word"],
       ("bench", "big"): ["id", "val", "word"]}
ROW_OPS = ("write_rows", "update_rows", "delete_rows")
INSERTS_ONLY = {"write_rows"}


def _keep(ev: dict, ops=frozenset(INSERTS_ONLY)) -> bool:
    return ev["op"] not in ROW_OPS or ev["op"] in ops


def _mixed_log(checksum: str | None = None) -> bytes:
    w = BinlogWriter(checksum=checksum)
    for i in range(6):
        t = AUTO if i % 2 == 0 else BIG
        w.write_query(t.db, f"DML ON {t.db}.{t.table}", ts=i)
        w.write_table_map(t, ts=i)
        w.write_rows(WRITE_ROWS_EVENT, t, [[i, f"{i}.0000", f"w{i}"]], ts=i)
        w.write_rows(
            UPDATE_ROWS_EVENT, t,
            [([i, f"{i}.0000", f"w{i}"], [i, f"{i}.5000", None])], ts=i,
        )
        w.write_rows(DELETE_ROWS_EVENT, t, [[i, f"{i}.5000", None]], ts=i)
        w.write_xid(i, ts=i)
    return w.getvalue()


def test_only_ops_parity_mixed_log():
    data = _mixed_log()
    full = decode_binlog(data, CAT)
    filtered = decode_binlog(data, CAT, only_ops=INSERTS_ONLY)
    assert filtered == [e for e in full if _keep(e)]
    # something was skipped; seq gaps prove skipped frames kept a slot
    assert len(filtered) < len(full)
    seqs = [e["seq"] for e in filtered]
    assert seqs == sorted(seqs) and seqs != list(range(len(seqs)))
    # non-row events all survive, for both tables
    assert sum(e["op"] == "xid" for e in filtered) == 6
    assert all(e["op"] != "update_rows" and e["op"] != "delete_rows"
               for e in filtered)


def test_only_ops_composes_with_only_tables():
    """Both predicates must pass for a frame to decode (AND)."""
    data = _mixed_log()
    full = decode_binlog(data, CAT)
    got = decode_binlog(
        data, CAT, only_tables={("foo", "auto")}, only_ops=INSERTS_ONLY
    )
    expect = [
        e for e in full
        if e["op"] not in ROW_OPS
        or (e["op"] in INSERTS_ONLY and (e["db"], e["tbl"]) == ("foo", "auto"))
    ]
    assert got == expect
    kept_rows = [e for e in got if e["op"] in ROW_OPS]
    assert kept_rows and all(
        e["op"] == "write_rows" and e["db"] == "foo" for e in kept_rows
    )


def test_only_ops_parity_with_crc32():
    data = _mixed_log(checksum="crc32")
    full = decode_binlog(data, CAT, checksum="crc32")
    filtered = decode_binlog(
        data, CAT, checksum="crc32", only_ops=INSERTS_ONLY
    )
    assert filtered == [e for e in full if _keep(e)]


def test_only_ops_still_verifies_crc_on_skipped_frames():
    """Stream integrity is not negotiable under the delta-type skip
    either: a CRC-corrupt update frame is caught even when updates are
    filtered out."""
    w = BinlogWriter(checksum="crc32")
    w.write_table_map(AUTO)
    w.write_rows(
        UPDATE_ROWS_EVENT, AUTO,
        [([1, "1.0000", "a"], [1, "1.5000", "b"])],
    )
    data = bytearray(w.getvalue())
    data[-6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        decode_binlog(bytes(data), CAT, checksum="crc32",
                      only_ops=INSERTS_ONLY)


def test_only_ops_skipped_row_without_table_map_is_dropped():
    """Asymmetry (b): a filtered-out op needs no table attribution, so
    a map-less update frame drops silently under only_ops — while the
    same log still errors on a full decode."""
    w = BinlogWriter()
    w.write_rows(
        UPDATE_ROWS_EVENT, BIG, [([2, "2.0000", "b"], [2, "2.5000", "c"])]
    )
    w.write_table_map(AUTO)
    w.write_rows(WRITE_ROWS_EVENT, AUTO, [[1, "1.0000", "a"]])
    data = w.getvalue()
    with pytest.raises(ValueError, match="without preceding TABLE_MAP"):
        decode_binlog(data, CAT)
    got = decode_binlog(data, CAT, only_ops=INSERTS_ONLY)
    assert [e["op"] for e in got if e["op"] in ROW_OPS] == ["write_rows"]


def test_only_ops_inside_transaction_payload():
    """only_ops threads into TRANSACTION_PAYLOAD inner decode with
    full-decode seq numbering preserved."""
    iw = BinlogWriter()
    fde_end = len(iw.getvalue())
    iw.write_table_map(AUTO, ts=0)
    iw.write_rows(WRITE_ROWS_EVENT, AUTO, [[0, "0.0000", "p"]], ts=0)
    iw.write_rows(
        UPDATE_ROWS_EVENT, AUTO,
        [([0, "0.0000", "p"], [0, "0.5000", "q"])], ts=0,
    )
    payload = iw.getvalue()[fde_end:]
    w = BinlogWriter()
    w.write_table_map(AUTO)
    w.write_transaction_payload(payload, compression_type=255)
    w.write_xid(9)
    data = w.getvalue()
    full = decode_binlog(data, CAT)
    filtered = decode_binlog(data, CAT, only_ops=INSERTS_ONLY)
    assert filtered == [e for e in full if _keep(e)]
    env = next(e for e in filtered if e["op"] == "transaction_payload")
    assert "3 events" in env["sql"]  # frame count, not kept count


def test_envelope_records_only_ops():
    data = _mixed_log()
    events = decode_binlog(data, CAT)
    recs_all, _ = envelope_records(events, "binlog.000001")
    recs_f, _ = envelope_records(events, "binlog.000001",
                                 only_ops=INSERTS_ONLY)
    kept = [r for r in recs_all
            if not r["op"].endswith("_rows") or r["op"] in INSERTS_ONLY]
    strip = lambda r: {k: v for k, v in r.items() if k != "seq"}
    assert [strip(r) for r in recs_f] == [strip(r) for r in kept]


def test_tailer_only_ops(tmp_path):
    """The live tail path skips non-matching ops at every turn."""
    from mysql_cdc_spark.streaming.binlog_tailer import BinlogTailer

    (tmp_path / "binlog.000001").write_bytes(_mixed_log())
    batches: list[list[dict]] = []
    tailer = BinlogTailer(
        str(tmp_path), "binlog.000001", batches.append, CAT,
        only_ops=INSERTS_ONLY,
    )
    tailer.turn()
    flat = [e for b in batches for e in b]
    row_ops = [e["op"] for e in flat if e["op"] in ROW_OPS]
    assert row_ops == ["write_rows"] * 6
    assert sum(e["op"] == "xid" for e in flat) == 6


def test_spark_envelope_only_ops_parity(spark, tmp_path):
    """End-to-end through format("mysql_binlog"): the only_ops option
    equals the full decode filtered, seq included."""
    import json

    from envelope_reference import canon_rows, reference_envelope

    from mysql_cdc_spark.sources.binlog_datasource import register_binlog_source

    out = tmp_path / "logs"
    out.mkdir()
    (out / "binlog.000001").write_bytes(_mixed_log())
    (out / "binlog.000002").write_bytes(_mixed_log(checksum="crc32"))
    register_binlog_source(spark)
    got = (
        spark.read.format("mysql_binlog")
        .option("catalog", json.dumps({f"{d}.{t}": c for (d, t), c in CAT.items()}))
        .option("only_ops", "write_rows")
        .load(str(out))
        .collect()
    )
    want = reference_envelope(str(out), CAT, only_ops=INSERTS_ONLY)
    assert want and canon_rows(got) == canon_rows(want)
