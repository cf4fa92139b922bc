"""Driver-side reference for the mysql_binlog batch scan, shared by the
DataSource parity and property tests."""

from __future__ import annotations

import json
import os

from mysql_cdc_spark.sources import binlog_source as bs
from mysql_cdc_spark.sources.binlog_codec import decode_binlog


def reference_envelope(
    path: str,
    catalog: dict | None = None,
    only_tables: set | None = None,
    only_ops: set | None = None,
    since: tuple[str, int] | None = None,
) -> list[dict]:
    """Driver-side reference for the mysql_binlog batch scan:
    `decode_binlog` on each whole file in rotation order, then
    `envelope_columns`, then the scan's options as plain Python
    filters (only_* drop row events only; `since` keeps the resume
    file from its offset).  One dict per envelope row, all columns —
    `seq` included, since the codec frame index is pushdown-invariant."""
    cat = bs.FIXTURE_CATALOG if catalog is None else catalog
    out: list[dict] = []
    for p in bs._list_log_files(path, since[0] if since else None):
        log_file = os.path.basename(p)
        with open(p, "rb") as fh:
            cols = bs.envelope_columns(decode_binlog(fh.read(), cat), log_file)
        for i in range(len(cols["op"])):
            r = {c: v[i] for c, v in cols.items()}
            if r["op"].endswith("_rows") and (
                (only_tables is not None and (r["db"], r["tbl"]) not in only_tables)
                or (only_ops is not None and r["op"] not in only_ops)
            ):
                continue
            if since and log_file == since[0] and r["offset"] < since[1]:
                continue
            out.append(r)
    return out


def canon_rows(rows, columns=None) -> list[str]:
    """Order-insensitive, exact comparison form for envelope rows
    (Spark Rows or reference dicts), optionally projected."""
    out = []
    for r in rows:
        d = r if isinstance(r, dict) else r.asDict()
        if columns is not None:
            d = {c: d[c] for c in columns}
        out.append(json.dumps(d, sort_keys=True, default=str))
    return sorted(out)

