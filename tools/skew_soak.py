"""Adversarial KEY-SKEW soak (r10 VERDICT #2): the density soak
stresses duplication volume; this one stresses hot KEYS — the failure
mode AQE skew-join splitting, salting, map-side partials, and result
caps each exist to absorb.

Fixture (``skewed_x{k}``): K× the sf0.1 events table where **one
user_id owns ~50% of all rows** (every even-hashed row remaps to user
7), which also funnels ~50% of the change stream into ONE (db, tbl)
pair via the parity-derived table mapping; documents get a **hot
near-dup block**: ~30% of docs become near-copies of doc 0 (shared
shingle set → one hot LSH band / hot shingle inverted-list key).

Measured against the UNIFORM organic fixture at the same K (same row
counts, same bytes — the only variable is key distribution), so the
report isolates what skew itself costs each operator class:

- `cdc_latest_state` / `cdc_hot_keys` — hot-group aggregation: partial
  aggregation (map-side combine) absorbs the hot key; expected ~1×.
- `ts_asof_join` — window partitioned by user_id: a hot user is ONE
  unsplittable sort partition (the documented scale hazard of the
  union+window formulation); this measures its real cost.
- `ts_range_join` — bucketed equi-join: time keys unaffected by user
  skew; control.
- `sql_skew_normalize` — the explicit salted join under a genuinely
  hot fact key (the salt spreads the hot key's shuffle partition).
- `llm_dedup_minhash` / `llm_dedup_jaccard` — banded/inverted-index
  joins where the hot block makes one band/shingle key heavy; the
  document-frequency cap (MAX_SHINGLE_DF) and pair caps bound the
  blowup; rows are reported alongside walls because true-pair output
  legitimately grows with a hot dup block.

Usage: python tools/skew_soak.py [K]
Output: per-query JSON rows (uniform vs skewed wall/rows) + summary.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mysql_cdc_spark import SCRATCH_ROOT  # noqa: E402

BASE = "/root/testdata/sf0.1"
SCRATCH = f"{SCRATCH_ROOT}/stress"

NAMES = [
    "cdc_latest_state", "cdc_hot_keys", "ts_asof_join", "ts_range_join",
    "sql_skew_normalize", "llm_dedup_minhash", "llm_dedup_jaccard",
]

HOT_USER = 7
HOT_DOC_FRACTION = 0.3


def ensure_skewed(spark, k: int) -> str:
    """Build (or reuse) the skewed K× fixture; returns its dir."""
    from pyspark.sql import functions as F

    from mysql_cdc_spark.sources.io import read_table

    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    out = Path(SCRATCH) / f"skewed_x{k}"
    if (out / "_done").exists():
        return str(out)

    ev = read_table(spark, BASE, "events")
    n = ev.count()
    big = None
    for i in range(k):
        c = ev.select(
            (F.col("event_id") + F.lit(i * n)).alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {i} DAYS")).alias("ts"),
            # even whole-row hash → the ONE hot user; odd → unique cold id
            F.when(
                F.xxhash64(F.col("event_id") + F.lit(i * n)) % 2 == 0,
                F.lit(HOT_USER),
            ).otherwise(F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
            "event_type", "value", "props",
        )
        big = c if big is None else big.unionByName(c)
    big.repartition(8).write.mode("overwrite").parquet(str(out / "events.parquet"))

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    n_docs = docs.count()
    first_text = docs.orderBy("doc_id").select("text").first()[0]
    big_docs = None
    for i in range(k):
        # hot block: ~30% of each copy's docs become near-copies of doc 0
        # (hot doc's text + a tiny per-doc suffix so they are near- not
        # exact-dups → one hot LSH band, hot shingle keys)
        is_hot = (F.xxhash64(F.col("doc_id")) % 100) < int(HOT_DOC_FRACTION * 100)
        text = (
            F.when(
                is_hot,
                F.concat(
                    F.lit(first_text), F.lit(" tail"),
                    (F.col("doc_id") + F.lit(i * n_docs)).cast("string"),
                ),
            ).otherwise(
                F.col("text") if i == 0
                else F.regexp_replace(F.col("text"), r"(\w+)", rf"$1q{i}")
            )
        )
        c = docs.select(
            (F.col("doc_id") + F.lit(i * n_docs)).alias("doc_id"),
            text.alias("text"), "lang", "source",
            F.length(text).cast("int").alias("n_chars"),
        )
        big_docs = c if big_docs is None else big_docs.unionByName(c)
    big_docs.repartition(8).write.mode("overwrite").parquet(
        str(out / "documents.parquet")
    )

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_emb = emb.count()
    big_emb = None
    for i in range(k):
        c = emb.select(
            (F.col("vec_id") + F.lit(i * n_emb)).alias("vec_id"),
            F.transform(
                "embedding", lambda x, i=i: x * (1.0 + i * 0.07) + i * 0.013
            ).alias("embedding"),
            "label",
        )
        big_emb = c if big_emb is None else big_emb.unionByName(c)
    big_emb.repartition(8).write.mode("overwrite").parquet(
        str(out / "embeddings.parquet")
    )
    (out / "_done").touch()
    return str(out)


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    from mysql_cdc_spark.queries import QUERIES
    from mysql_cdc_spark.session import get_spark
    from tools.scale_stress import ensure_organic

    spark = get_spark("skew-soak")
    spark.sparkContext.setLogLevel("ERROR")
    uniform = ensure_organic(spark, k)
    skewed = ensure_skewed(spark, k)

    report: dict[str, dict] = {}
    for sf_dir, tag in ((uniform, "uniform"), (skewed, "skewed")):
        for name in NAMES:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            rows = QUERIES[name](spark, sf_dir).count()
            report.setdefault(name, {})[tag] = {"wall": round(best, 3), "rows": rows}

    print(json.dumps({
        "mode": "skew_soak", "k": k, "hot_user": HOT_USER,
        "report": report,
        "ratios": {
            n: {
                "wall": round(r["skewed"]["wall"] / r["uniform"]["wall"], 2),
                "rows": round(r["skewed"]["rows"] / max(r["uniform"]["rows"], 1), 2),
            }
            for n, r in report.items()
        },
    }))


if __name__ == "__main__":
    main()
