"""Filter-before-decode pushdown tests (r14 VERDICT #1).

The reference decodes every used column of every row event and filters
downstream (mysql_binlog.clj:592-604); SURVEY §4 names skipping
non-matching tables' row-image decode as the one custom gain.  The
parity contract under test: `decode_binlog(data, only_tables=S)`
produces exactly `[e for e in decode_binlog(data) if keep(e)]` with
`keep(e) = e.op not a row op or (db, tbl) in S` — seq included, since
skipped frames still consume a seq slot.  Documented asymmetry: body
corruption inside a skipped row event on a checksum-free log is never
observed (the body is never read); CRC trailers ARE still verified.
"""

from __future__ import annotations

import json

import pytest
from envelope_reference import canon_rows, reference_envelope

from mysql_cdc_spark.sources.binlog_codec import (
    TYPE_LONG,
    TYPE_NEWDECIMAL,
    TYPE_VARCHAR,
    UPDATE_ROWS_EVENT,
    WRITE_ROWS_EVENT,
    WRITE_ROWS_EVENT_V2,
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
CAT_JSON = json.dumps({f"{d}.{t}": c for (d, t), c in CAT.items()})
ROW_OPS = ("write_rows", "update_rows", "delete_rows")
ONLY_AUTO = {("foo", "auto")}


def _keep(ev: dict) -> bool:
    return ev["op"] not in ROW_OPS or (ev["db"], ev["tbl"]) in ONLY_AUTO


def _interleaved_log(checksum: str | None = None) -> bytes:
    w = BinlogWriter(checksum=checksum)
    for i in range(6):
        t = AUTO if i % 2 == 0 else BIG
        w.write_query(t.db, f"INSERT INTO {t.db}.{t.table} VALUES (?)", ts=i)
        w.write_table_map(t, ts=i)
        w.write_rows(WRITE_ROWS_EVENT, t, [[i, f"{i}.0000", f"w{i}"]], ts=i)
        w.write_rows(
            UPDATE_ROWS_EVENT, t,
            [([i, f"{i}.0000", f"w{i}"], [i, f"{i}.5000", None])], ts=i,
        )
        w.write_xid(i, ts=i)
    return w.getvalue()


def test_pushdown_parity_interleaved_tables():
    data = _interleaved_log()
    full = decode_binlog(data, CAT)
    filtered = decode_binlog(data, CAT, only_tables=ONLY_AUTO)
    assert filtered == [e for e in full if _keep(e)]
    # sanity: something was actually skipped, and seq gaps prove the
    # skipped frames still consumed numbering
    assert len(filtered) < len(full)
    seqs = [e["seq"] for e in filtered]
    assert seqs == sorted(seqs) and seqs != list(range(len(seqs)))
    # non-row events (query/table_map/xid) of BOTH tables all survive
    assert sum(e["op"] == "table_map" and e["db"] == "bench" for e in filtered) == 3


def test_pushdown_parity_with_crc32_and_rotation():
    w = BinlogWriter(checksum="crc32")
    w.write_table_map(AUTO)
    w.write_rows(WRITE_ROWS_EVENT, AUTO, [[1, "1.0000", "a"]])
    w.write_table_map(BIG)
    w.write_rows(WRITE_ROWS_EVENT, BIG, [[2, "2.0000", "b"]])
    w.write_rotate("binlog.000002")
    w.write_table_map(BIG)
    w.write_rows(WRITE_ROWS_EVENT, BIG, [[3, "3.0000", "c"]])
    data = w.getvalue()
    full = decode_binlog(data, CAT, checksum="crc32")
    filtered = decode_binlog(data, CAT, checksum="crc32", only_tables=ONLY_AUTO)
    assert filtered == [e for e in full if _keep(e)]
    assert any(e["op"] == "rotate" for e in filtered)


def test_pushdown_quarantine_parity_on_matching_table():
    """Corruption in a MATCHING table's row body quarantines
    identically in both modes (the body is decoded either way)."""
    w = BinlogWriter()
    w.write_table_map(AUTO)
    w.write_rows(WRITE_ROWS_EVENT, AUTO, [[1, "1.0000", "ok"]])
    # corrupt row event for the matching table: truncated image bytes
    w._emit(WRITE_ROWS_EVENT, AUTO.table_id.to_bytes(6, "little") + bytes(2)
            + b"\x03" + b"\x07" + b"\x00")
    w.write_table_map(BIG)
    w.write_rows(WRITE_ROWS_EVENT, BIG, [[2, "2.0000", "b"]])
    data = w.getvalue()
    full = decode_binlog(data, CAT, on_error="quarantine")
    filtered = decode_binlog(
        data, CAT, on_error="quarantine", only_tables=ONLY_AUTO
    )
    assert filtered == [e for e in full if _keep(e)]
    assert sum(e["op"] == "quarantine" for e in filtered) == 1


def test_pushdown_never_reads_skipped_checksum_free_body():
    """The documented asymmetry: body corruption inside a SKIPPED row
    event on a checksum-free log is never observed — no quarantine
    record, no exception — because the body is never read."""
    w = BinlogWriter()
    w.write_table_map(BIG)
    # declared width 5 vs the table map's 3 — full decode raises the
    # "row event declares N columns" ValueError and quarantines
    w._emit(WRITE_ROWS_EVENT, BIG.table_id.to_bytes(6, "little") + bytes(2)
            + b"\x05" + b"\x1f" + b"\x00\xff")
    w.write_table_map(AUTO)
    w.write_rows(WRITE_ROWS_EVENT, AUTO, [[1, "1.0000", "a"]])
    data = w.getvalue()
    full = decode_binlog(data, CAT, on_error="quarantine")
    assert sum(e["op"] == "quarantine" for e in full) == 1
    filtered = decode_binlog(data, CAT, only_tables=ONLY_AUTO)  # raise mode!
    assert [e for e in filtered if e["op"] in ROW_OPS + ("quarantine",)] == [
        e for e in full if e["op"] in ROW_OPS
    ]


def test_pushdown_still_verifies_crc_on_skipped_frames():
    """Stream integrity is not negotiable: a CRC-corrupt frame is
    caught even when its table is filtered out."""
    w = BinlogWriter(checksum="crc32")
    w.write_table_map(BIG)
    w.write_rows(WRITE_ROWS_EVENT, BIG, [[2, "2.0000", "b"]])
    data = bytearray(w.getvalue())
    data[-6] ^= 0xFF  # flip a byte inside the last event's body
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        decode_binlog(bytes(data), CAT, checksum="crc32",
                      only_tables=ONLY_AUTO)
    q = decode_binlog(bytes(data), CAT, checksum="crc32",
                      only_tables=ONLY_AUTO, on_error="quarantine")
    assert q[-1]["op"] == "quarantine"


def test_pushdown_row_before_any_table_map_still_errors():
    """A row event with no table map cannot be attributed to a table,
    so pushdown must NOT skip it — same error as full decode."""
    w = BinlogWriter()
    w.write_rows(WRITE_ROWS_EVENT, BIG, [[2, "2.0000", "b"]])
    with pytest.raises(ValueError, match="without preceding TABLE_MAP"):
        decode_binlog(w.getvalue(), CAT, only_tables=ONLY_AUTO)


def test_pushdown_inside_transaction_payload():
    """only_tables threads into TRANSACTION_PAYLOAD inner decode; the
    envelope's frame count and every spliced event's seq keep full-
    decode numbering."""
    # build inner event bytes with one writer and strip magic+FDE
    iw = BinlogWriter()
    fde_end = len(iw.getvalue())
    for i, t in enumerate((AUTO, BIG, AUTO)):
        iw.write_table_map(t, ts=i)
        iw.write_rows(WRITE_ROWS_EVENT, t, [[i, f"{i}.0000", "p"]], ts=i)
    payload = iw.getvalue()[fde_end:]
    for zstd in (255, 0):
        w = BinlogWriter()
        w.write_table_map(AUTO)
        w.write_transaction_payload(payload, compression_type=zstd)
        w.write_xid(9)
        data = w.getvalue()
        full = decode_binlog(data, CAT)
        filtered = decode_binlog(data, CAT, only_tables=ONLY_AUTO)
        assert filtered == [e for e in full if _keep(e)]
        env_full = next(e for e in full if e["op"] == "transaction_payload")
        env_filt = next(e for e in filtered if e["op"] == "transaction_payload")
        assert env_filt["sql"] == env_full["sql"]  # frame count, not kept count
        assert "6 events" in env_filt["sql"]


def test_envelope_records_only_tables():
    data = _interleaved_log()
    events = decode_binlog(data, CAT)
    recs_all, _ = envelope_records(events, "binlog.000001")
    recs_f, _ = envelope_records(events, "binlog.000001",
                                 only_tables=ONLY_AUTO)
    kept = [r for r in recs_all
            if not r["op"].endswith("_rows") or (r["db"], r["tbl"]) in ONLY_AUTO]
    # identity (log_file, offset, row_idx) and payloads match; seq is
    # delivery-order and intentionally renumbered
    strip = lambda r: {k: v for k, v in r.items() if k != "seq"}
    assert [strip(r) for r in recs_f] == [strip(r) for r in kept]


def _scan(spark, path, **options):
    from mysql_cdc_spark.sources.binlog_datasource import register_binlog_source
    from mysql_cdc_spark.sources.reader import read_binlog

    register_binlog_source(spark)
    return read_binlog(spark, str(path), catalog=CAT_JSON, **options)


def test_spark_envelope_pushdown_parity(spark, tmp_path):
    """End-to-end through format("mysql_binlog"): the only_tables
    option equals the full decode filtered, seq included."""
    out = tmp_path / "logs"
    out.mkdir()
    (out / "binlog.000001").write_bytes(_interleaved_log())
    (out / "binlog.000002").write_bytes(_interleaved_log(checksum="crc32"))
    got = _scan(spark, out, only_tables="foo.auto").collect()
    want = reference_envelope(str(out), CAT, only_tables=ONLY_AUTO)
    assert want and canon_rows(got) == canon_rows(want)


# ---------------------------------------------------------------------------
# Bounded replay: file-level pruning + boundary-offset cut (r15)
# ---------------------------------------------------------------------------


def test_list_log_files_prunes_by_rotation_order(tmp_path):
    from mysql_cdc_spark.sources.binlog_source import _list_log_files

    for i in range(5):
        (tmp_path / f"binlog.{i:06d}").write_bytes(b"x")
    (tmp_path / ".hidden").write_bytes(b"x")
    (tmp_path / "binlog.000009.tmp").write_bytes(b"x")
    all_files = _list_log_files(str(tmp_path))
    assert [p.rsplit("/", 1)[-1] for p in all_files] == [
        f"binlog.{i:06d}" for i in range(5)
    ]
    pruned = _list_log_files(str(tmp_path), "binlog.000003")
    assert [p.rsplit("/", 1)[-1] for p in pruned] == [
        "binlog.000003", "binlog.000004",
    ]
    assert _list_log_files(str(tmp_path), "binlog.000099") == []


def test_since_replay_parity_and_pruning(spark, tmp_path):
    """since_file/since_offset: earlier files NEVER enter the scan
    (driver-side pruning), the boundary file cuts at the offset
    (mid-file positions included — byte offsets the SQL oracle cannot
    express), and the result equals the full decode filtered."""
    from mysql_cdc_spark.sources import binlog_source as bs
    from mysql_cdc_spark.sources.binlog_source import _list_log_files

    out = tmp_path / "logs"
    out.mkdir()
    for i in range(1, 4):
        (out / f"binlog.{i:06d}").write_bytes(_interleaved_log())
    # mid-file boundary: an offset strictly inside file 2
    offsets_f2 = sorted(
        r["offset"] for r in reference_envelope(str(out), CAT)
        if r["log_file"] == "binlog.000002"
    )
    cut = offsets_f2[len(offsets_f2) // 2]
    since = dict(since_file="binlog.000002", since_offset=cut)
    want = reference_envelope(str(out), CAT, since=("binlog.000002", cut))
    assert {r["log_file"] for r in want} == {"binlog.000002", "binlog.000003"}
    assert canon_rows(_scan(spark, out, **since).collect()) == canon_rows(want)
    # pruning is real: the driver-side load list itself excludes the
    # earlier file — it never enters the scan at all
    assert all(
        not p.endswith("binlog.000001")
        for p in _list_log_files(str(out), "binlog.000002")
    )
    # composes with pushdown
    got_both = _scan(spark, out, only_tables="foo.auto", **since).collect()
    assert canon_rows(got_both) == canon_rows(reference_envelope(
        str(out), CAT, only_tables=ONLY_AUTO, since=("binlog.000002", cut)
    ))
    # past-the-end resume: empty DataFrame with the envelope schema
    env_empty = _scan(spark, out, since_file="binlog.000099", since_offset=4)
    assert env_empty.count() == 0
    assert env_empty.schema == bs.BINLOG_ENVELOPE_SCHEMA


def test_list_log_files_filters_to_rotation_pattern(tmp_path):
    """r15 ADVICE: a stray non-binlog file in the directory must not
    sweep into the replay — only `*.%06d` rotation names list."""
    from mysql_cdc_spark.sources.binlog_source import _list_log_files

    for i in range(3):
        (tmp_path / f"binlog.{i:06d}").write_bytes(b"x")
    (tmp_path / "binlog.index").write_bytes(b"x")
    (tmp_path / "dump.sql").write_bytes(b"x")
    (tmp_path / "notes.txt").write_bytes(b"x")
    got = [p.rsplit("/", 1)[-1] for p in _list_log_files(str(tmp_path))]
    assert got == [f"binlog.{i:06d}" for i in range(3)]


def test_envelope_columns_parity_with_records():
    """The columnar builder (the DataSource's hot-loop form) carries
    exactly envelope_records' content, column for column — under both
    codec pushdowns too — except `seq`, which is the codec frame index
    rather than delivered-record numbering."""
    from mysql_cdc_spark.sources.binlog_source import (
        _ENVELOPE_COLS, _ENVELOPE_OPS, envelope_columns,
    )

    data = _interleaved_log()
    for kw in (
        {},
        {"only_tables": ONLY_AUTO},
        {"only_ops": {"write_rows"}},
        {"only_tables": ONLY_AUTO, "only_ops": {"write_rows"}},
    ):
        events = decode_binlog(data, CAT, **kw)
        recs, _ = envelope_records(events, "binlog.000001")
        cols = envelope_columns(events, "binlog.000001")
        assert set(cols) == set(_ENVELOPE_COLS)
        for c in _ENVELOPE_COLS:
            if c != "seq":
                assert cols[c] == [r[c] for r in recs], (kw, c)
        assert cols["seq"] == sorted(cols["seq"])
        assert set(cols["seq"]) == {
            ev["seq"] for ev in events if ev["op"] in _ENVELOPE_OPS
        }


# ---------------------------------------------------------------------------
# O(new-files) incremental discovery (r18 VERDICT #1)
# ---------------------------------------------------------------------------


def _mk_logs(d, idxs, stem="binlog"):
    for i in idxs:
        (d / f"{stem}.{i:06d}").write_bytes(b"x")


def test_log_discovery_probes_forward_without_listing(tmp_path):
    """Steady state: one initial full list, then rotation discovery is
    pure forward probing — O(new files) existence checks."""
    from mysql_cdc_spark.sources.binlog_source import LogDiscovery

    _mk_logs(tmp_path, range(4))
    d = LogDiscovery(str(tmp_path), reconcile_every=1000)
    names = d.refresh()
    assert names == [f"binlog.{i:06d}" for i in range(4)]
    assert d.full_lists == 1

    _mk_logs(tmp_path, (4, 5))
    names = d.refresh()
    assert names == [f"binlog.{i:06d}" for i in range(6)]
    assert d.full_lists == 1  # discovered by probing, not listing
    assert d.probes == 3  # 000004 hit, 000005 hit, 000006 miss

    # idle trigger: exactly one probe (the miss), still no listing
    assert d.refresh() == names
    assert d.full_lists == 1
    assert d.probes == 4


def test_log_discovery_reconcile_heals_out_of_sequence(tmp_path):
    """A name probing cannot see (a hole in the numbering) is picked
    up by the periodic full-list reconcile."""
    from mysql_cdc_spark.sources.binlog_source import LogDiscovery

    _mk_logs(tmp_path, (0, 1))
    d = LogDiscovery(str(tmp_path), reconcile_every=4)
    d.refresh()
    _mk_logs(tmp_path, (5,))  # hole at 2-4: forward probe misses it
    assert "binlog.000005" not in d.refresh()
    healed = False
    for _ in range(4):
        healed = "binlog.000005" in d.refresh()
        if healed:
            break
    assert healed and d.full_lists >= 2


def test_log_discovery_mixed_stems_always_lists(tmp_path):
    """More than one stem in the directory: no closed-form successor
    exists, so every refresh falls back to the full listing and stays
    exactly equivalent to _list_log_files."""
    from mysql_cdc_spark.sources.binlog_source import (
        LogDiscovery, _list_log_files,
    )

    _mk_logs(tmp_path, (0, 1), stem="binlog")
    _mk_logs(tmp_path, (0,), stem="mysql-bin")
    d = LogDiscovery(str(tmp_path), reconcile_every=1000)
    expect = [p.rsplit("/", 1)[-1] for p in _list_log_files(str(tmp_path))]
    assert d.refresh() == expect
    _mk_logs(tmp_path, (1,), stem="mysql-bin")
    expect = [p.rsplit("/", 1)[-1] for p in _list_log_files(str(tmp_path))]
    assert d.refresh() == expect
    assert d.full_lists == 2


def test_log_discovery_empty_dir_then_first_file(tmp_path):
    from mysql_cdc_spark.sources.binlog_source import LogDiscovery

    d = LogDiscovery(str(tmp_path), reconcile_every=1000)
    assert d.refresh() == []
    _mk_logs(tmp_path, (0,))
    assert d.refresh() == ["binlog.000000"]


def test_log_discovery_prune_drops_consumed(tmp_path):
    from mysql_cdc_spark.sources.binlog_source import LogDiscovery

    _mk_logs(tmp_path, range(6))
    d = LogDiscovery(str(tmp_path), reconcile_every=1000)
    d.refresh()
    assert d.refresh(min_name="binlog.000004") == [
        "binlog.000004", "binlog.000005",
    ]
    # pruned names stay gone on later probes
    assert d.refresh() == ["binlog.000004", "binlog.000005"]


def test_log_discovery_reconcile_zero_disables_probing(tmp_path):
    from mysql_cdc_spark.sources.binlog_source import LogDiscovery

    _mk_logs(tmp_path, (0,))
    d = LogDiscovery(str(tmp_path), reconcile_every=0)
    d.refresh()
    d.refresh()
    assert d.full_lists == 2 and d.probes == 0


def test_range_files_dense_enumeration_matches_listing(tmp_path):
    """partitions' range enumeration == the pruned listing, including
    a hole in the numbering; mixed stems fall back to the listing."""
    from mysql_cdc_spark.sources.binlog_datasource import (
        _BinlogStreamReader as _SR,
    )

    # build a reader without running a stream
    _mk_logs(tmp_path, (0, 1, 2, 4, 5))
    r = _SR.__new__(_SR)
    from mysql_cdc_spark.sources.binlog_datasource import _Opts
    from mysql_cdc_spark.sources.binlog_source import LogDiscovery

    r._o = _Opts({"path": str(tmp_path)})
    # dense enumeration requires discovery-VERIFIED single-stem state
    # (r19 review: nested stems would otherwise be silently skipped)
    r._disc = LogDiscovery(str(tmp_path))
    r._disc.refresh()
    assert r._disc.dense_verified() is True
    got = [p.rsplit("/", 1)[-1] for p in
           r._range_files("binlog.000001", "binlog.000004")]
    assert got == ["binlog.000001", "binlog.000002", "binlog.000004"]
    # open start: everything up to the end bound
    got = [p.rsplit("/", 1)[-1] for p in r._range_files("", "binlog.000002")]
    assert got == ["binlog.000000", "binlog.000001", "binlog.000002"]
    # mixed stems: listing fallback, lexicographic bounds
    got = [p.rsplit("/", 1)[-1] for p in
           r._range_files("binlog.000004", "mysql-bin.000001")]
    assert got == ["binlog.000004", "binlog.000005"]


# ---------------------------------------------------------------------------
# r19 review hardening: zero-knob hangs, nested-stem planning, archive
# rollover, manifest growth, catalog key validation
# ---------------------------------------------------------------------------


def test_zero_valued_byte_knobs_mean_uncapped_not_hang(tmp_path):
    """"0" disables, like the sibling knobs — a literal zero budget
    would pin the frame-widening loops at want=0 (an infinite
    driver-side loop, not a cap)."""
    from mysql_cdc_spark.sources.binlog_datasource import _Opts

    o = _Opts({
        "path": str(tmp_path),
        "max_bytes_per_batch": "0",
        "split_bytes": "0",
    })
    assert o.max_bytes is None
    assert o.split_bytes is None


def test_catalog_key_without_db_raises(tmp_path):
    """A catalog key without a dot builds a 1-tuple that can never
    match a (db, tbl) lookup — silently dead config; reject it like
    only_tables does."""
    from mysql_cdc_spark.sources.binlog_datasource import _parse_catalog

    with pytest.raises(ValueError, match="db.tbl"):
        _parse_catalog('{"orders": ["id", "amount"]}')


def test_range_files_listing_until_dense_verified(tmp_path):
    """A nested stem (binlog.000001.000002) matches the rotated
    pattern and sits lexicographically BETWEEN dense neighbors — the
    offset walk consumes it, so planning must include it.  Dense
    index enumeration may only run once discovery has CONFIRMED the
    directory is single-stem; before that (and in mixed directories
    forever) planning takes the listing."""
    from mysql_cdc_spark.sources.binlog_datasource import (
        _BinlogStreamReader,
    )

    _mk_logs(tmp_path, (1, 2))
    (tmp_path / "binlog.000001.000002").write_bytes(b"x")
    r = _BinlogStreamReader({"path": str(tmp_path)})
    want = ["binlog.000001", "binlog.000001.000002", "binlog.000002"]

    # before any refresh: unverified -> listing
    assert r._disc.dense_verified() is False
    got = [p.rsplit("/", 1)[-1]
           for p in r._range_files("binlog.000001", "binlog.000002")]
    assert got == want

    # after a refresh this directory is verified NON-dense -> listing
    r._disc.refresh()
    assert r._disc.dense_verified() is False
    got = [p.rsplit("/", 1)[-1]
           for p in r._range_files("binlog.000001", "binlog.000002")]
    assert got == want


def test_range_files_dense_enumeration_when_verified(tmp_path):
    from mysql_cdc_spark.sources.binlog_datasource import (
        _BinlogStreamReader,
    )

    _mk_logs(tmp_path, range(5))
    r = _BinlogStreamReader({"path": str(tmp_path)})
    r._disc.refresh()
    assert r._disc.dense_verified() is True
    got = [p.rsplit("/", 1)[-1]
           for p in r._range_files("binlog.000001", "binlog.000003")]
    assert got == [f"binlog.{i:06d}" for i in (1, 2, 3)]


def test_archive_refuses_six_digit_rollover(tmp_path):
    """binlog.999999 + 1 would be a seven-digit name: invisible to the
    listing regex AND lexicographically BEFORE 999999 — the next
    commit would recompute the same base and silently overwrite it.
    The sink must refuse loudly (new directory = the documented
    rotation move)."""
    from mysql_cdc_spark.sources.binlog_datasource import (
        _ArchiveCommit,
        _BinlogArchiveWriter,
    )

    _mk_logs(tmp_path, (999998, 999999))
    w = _BinlogArchiveWriter({"path": str(tmp_path)}, overwrite=False)
    msg = _ArchiveCommit(temp="/nonexistent", n_events=1,
                         first_key=("binlog.000000", 4, 0))
    with pytest.raises(ValueError, match="six-digit"):
        w._plan([msg], clear=False)


def test_archive_manifest_prunes_committed_batches(tmp_path):
    """The stream sink's manifest is an INTENT log for the CURRENT
    epoch's replay; entries more than one batch behind are dead — an
    unbounded manifest would be re-read/re-written/fsync'd on every
    commit of a long-running stream."""
    import json as _json

    from mysql_cdc_spark.sources.binlog_datasource import (
        _BinlogArchiveStreamWriter,
    )

    w = _BinlogArchiveStreamWriter({"path": str(tmp_path)}, overwrite=False)
    for b in range(6):
        w.commit([], batchId=b)
    manifest = _json.loads(
        (tmp_path / "_archive_manifest.json").read_text()
    )
    assert set(manifest) == {"4", "5"}, manifest


def test_batch_scan_ignores_stray_files(spark, tmp_path):
    """A real binlog directory always holds stray non-log files
    (binlog.index at minimum); they must never sweep into the batch
    scan — bad magic fails the job regardless of on_error."""
    out = tmp_path / "logs"
    out.mkdir()
    (out / "binlog.000001").write_bytes(_interleaved_log())
    (out / "binlog.index").write_text("binlog.000001\n")
    (out / "dump.sql").write_text("SELECT 1;\n")
    env = _scan(spark, out)
    seen = {r.log_file for r in env.select("log_file").distinct().collect()}
    assert seen == {"binlog.000001"}


def test_list_log_files_raises_on_six_digit_rollover(tmp_path):
    """binlog.1000000 cannot be represented in the six-digit contract
    (the regex skips it; lexicographic order puts it BEFORE 999999).
    Silently dropping it is data loss — its presence must raise."""
    from mysql_cdc_spark.sources.binlog_source import _list_log_files

    _mk_logs(tmp_path, (999998, 999999))
    (tmp_path / "binlog.1000000").write_bytes(b"x")
    with pytest.raises(ValueError, match="six-digit"):
        _list_log_files(str(tmp_path))


def test_list_log_files_ignores_unrelated_seven_digit_names(tmp_path):
    """A 7+-digit suffix on a DIFFERENT stem is a stray file, not a
    rollover — it must not trip the guard."""
    from mysql_cdc_spark.sources.binlog_source import _list_log_files

    _mk_logs(tmp_path, (0, 1))
    (tmp_path / "data.1234567").write_bytes(b"x")
    names = [p.rsplit("/", 1)[-1] for p in _list_log_files(str(tmp_path))]
    assert names == ["binlog.000000", "binlog.000001"]


def test_gtid_resume_rejects_anonymous_logs(tmp_path):
    """gtid_mode=OFF servers write ANONYMOUS_GTID events (all-zeros
    sid): treating them as real GTIDs makes every later anonymous
    transaction look already-executed and the resume silently SKIPS
    all new work.  Both GTID helpers must raise instead."""
    from mysql_cdc_spark.sources import binlog_source as bs
    from mysql_cdc_spark.sources.binlog_codec import BinlogWriter

    w = BinlogWriter()
    w.write_gtid("00000000-0000-0000-0000-000000000000", 0, ts=1)
    w.write_table_map(AUTO, ts=1)
    w.write_rows(WRITE_ROWS_EVENT, AUTO, [[1, "1.0000", "a"]], ts=1)
    w.write_xid(1, ts=1)
    (tmp_path / "binlog.000001").write_bytes(w.getvalue())
    with pytest.raises(ValueError, match="anonymous"):
        bs.executed_gtid_set(str(tmp_path), CAT)
    with pytest.raises(ValueError, match="anonymous"):
        bs.resolve_gtid_resume(str(tmp_path), {}, CAT)
