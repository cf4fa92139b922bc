"""mysql_cdc_spark — a PySpark-native change-data-capture analytics engine.

A from-scratch rebuild of the capabilities of hoeck/mysql-cdc (a MySQL
binlog CDC reader with a streaming-SQL JDBC driver) on top of Apache
Spark — the change-event data model is a DataFrame, the query surface
is Spark SQL, the streaming runtime is Structured Streaming, the binlog
byte codec is pure Python behind the `mysql_binlog` Python DataSource —
plus the LLM-training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB pipeline needs.

Layout:
    model.py       — change-event envelope schemas + delta-type vocabulary
    session.py     — tuned SparkSession builder (AQE, Arrow, shuffle sizing)
    api.py         — JDBC-style driver surface (connection/statement/
                     cursor, batch + continuous streaming queries)
    queries/       — driver-facing registry: every operator as a
                     (spark, sf_dir) -> DataFrame with a DuckDB oracle,
                     split by domain (cdc/stream/binlog/llm/ts/sk/sql/
                     dq/mm) with the frozen registration order and the
                     rotation policy in _registry.py / rotation.py
    sources/
        events_cdc.py     — derived change-event stream (envelope + explode)
        io.py             — fixture readers (ns-timestamp handling)
        binlog_codec.py   — v4 binlog byte codec (D1-D12, packed decimal)
        binlog_source.py  — envelope flattening, log listing, fixture writers
        binlog_datasource.py — the mysql_binlog DataSource (batch, stream, sink)
    operators/
        query.py          — the reference's SQL surface (R1-R6, R10)
        relational.py     — joins/aggs/windows/set-ops (SURVEY §2.5),
                            gap-based sessionization
        transactions.py   — xid-boundary transaction assembly
        aggregates.py     — running/grouped aggregates, latest-state replay
        dedup.py          — exact / MinHash-LSH / SimHash / n-gram Jaccard
        similarity.py     — quantized-integer cosine KNN, LSH ANN, centroids
        corpus.py         — splits, length buckets, sequence packing,
                            duplicate-cluster connected components
        contamination.py  — benchmark-overlap scan (capped inverted index)
        linkage.py        — entity resolution (multi-pass blocking +
                            Levenshtein verify)
        graph.py          — fixed-iteration PageRank (integer fixed-point)
        timeseries.py     — as-of/range joins, rollups, OHLC, LTTB
        retrieval.py      — TF-IDF / BM25 / bigram LM
        sketches.py       — HLL / KMV / CMS / quantiles / Bloom
        bpe.py            — BPE merge training + greedy encode
        cursor.py         — forward-only ResultSet cursor (R9) + metadata
    functions/
        scan.py           — chunked distributed prefix scans
        text.py           — tokenization contract + text analysis
        pii.py            — PII detection + redaction (RE2-safe regexes)
        skew.py           — deterministic salted equi-join
        bucketing.py      — bucketed sinks (shuffle-free co-located joins)
        multimodal.py     — binary media columns through mapInPandas
        media_codecs.py   — pure-Python PNG / PCM-WAV codecs
    streaming/
        runtime.py        — file-stream CDC source, checkpointed offsets,
                            rotation, backpressure, blocking cursor,
                            foreachBatch lifecycle, binlog event-log bridge
        binlog_tailer.py  — incremental real-byte tail (cdc-turn loop)
        stateful.py       — applyInPandasWithState latest-state reducer
        latency.py        — end-to-end CDC latency decomposition bench
"""

import os as _os

__version__ = "0.3.0"

# Scratch root for generated byte fixtures, event logs, sinks and
# checkpoints: the checkout's own .stream_tmp, so two checkouts of the
# package never share (or garbage-collect) each other's scratch.
SCRATCH_ROOT = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
    ".stream_tmp",
)
