"""Streaming deduplication: exactly-once semantics over an at-least-once
event feed.

The batch dedup family (operators/dedup.py) answers "collapse the
corpus"; a pipeline ingesting events continuously needs the streaming
counterpart — drop replayed/duplicate events *as they arrive* while
keeping bounded state.  Without a watermark the dedup state grows with
every key ever seen; `withWatermark` lets Spark expire keys older than
the lateness bound, so state is O(keys per watermark window), not
O(keys ever) — the difference between running forever and OOMing at
100 TB/day.

``dedup_stream`` is first-seen-wins on exact key equality, state
expired by watermark.  It emits each first occurrence immediately
(dedup is not an aggregation — no holdback), so append mode works.

The watermark needs a real timestamp column; ``sources/io.ts_event_time``
derives it for either physical ts encoding (TIMESTAMP_NTZ cast under
the UTC session pin, or timestamp_micros(ns DIV 1000) for legacy
long-nanos data — integer division, exact).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.io import ts_event_time

DEFAULT_WATERMARK = "1 hour"


def with_event_time(events: DataFrame) -> DataFrame:
    """Derive the watermarkable timestamp from the raw ts column."""
    return events.withColumn("event_time", ts_event_time(events, "ts"))


def dedup_stream(
    events: DataFrame,
) -> DataFrame:
    """First-seen-wins streaming dedup on ``event_id`` with
    watermark-bounded state."""
    return (
        with_event_time(events)
        .withWatermark("event_time", DEFAULT_WATERMARK)
        .dropDuplicates(["event_id"])
    )


# ----------------------------------------------------------- query
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming dedup code path executed on a batch frame (the
    watermark is a no-op outside a stream; stream-vs-batch equivalence
    is pinned by tests/test_streaming_dedup.py).  Input simulates an
    at-least-once feed by doubling every event; output summarizes the
    deduped stream per type, so a single surviving duplicate shifts
    both count and sum."""
    from ..sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    doubled = ev.unionAll(ev)
    return (
        dedup_stream(doubled)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
FROM (
  SELECT DISTINCT * FROM (
    SELECT * FROM events UNION ALL SELECT * FROM events
  )
)
GROUP BY event_type
"""


# ----------------------------------------- streaming SimHash near-dup
#
# The streaming counterpart of operators/dedup.q_simhash_near_dup:
# detect near-duplicate documents AS THEY ARRIVE.  Per document the
# 60-bit SimHash is computed ROW-LOCALLY (a higher-order-function
# fold — state-free, so it runs in any micro-batch without a grouped
# aggregation; the batch path uses the flat explode+groupBy form for
# codegen speed, but both produce bit-identical signatures because
# the bit votes are order-free integer sums).  Each signature fans
# out to its 4 x 15-bit LSH bands; ``applyInPandasWithState`` keyed
# by (band, band_val) holds the docs previously seen in that bucket
# and emits a (doc1, doc2, hamming) pair the moment a new arrival
# lands within hamming <= 3 of any of them — pigeonhole-complete,
# exactly like the batch banded join.  State is per-bucket (the same
# key distribution as the batch join's shuffle); a production
# deployment adds a state TTL for unbounded feeds — the bounded
# drain here pins stream == batch pair-set equality instead.

from pyspark.sql import types as T  # noqa: E402
from pyspark.sql.streaming.state import (  # noqa: E402
    GroupState,
    GroupStateTimeout,
)

_ND_OUTPUT = T.StructType(
    [
        T.StructField("doc1", T.LongType()),
        T.StructField("doc2", T.LongType()),
        T.StructField("hamming", T.LongType()),
    ]
)
_ND_STATE = T.StructType(
    [
        T.StructField("doc_ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.LongType())),
    ]
)


_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


def _sig_batches(it):
    """Arrow-batched 60-bit SimHash signatures, bit-identical to the
    batch JVM path (pinned by pytest): same whitespace tokenization
    (ASCII \\s, matching Java's regex class), same md5-first-15-hex
    token hash, same order-free integer bit votes.  A pure column
    expression computed the same thing but the per-bit HOF lambda
    re-evaluated the md5 transform 60x per row (interpreted-HOF trap,
    measured 29s at sf0.1 in the bench); hashlib + one numpy bitmat
    per doc runs the identical integers in ~1/20th the time."""
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd  # local: runs on executors

    from ..operators.dedup import SIMHASH_BITS

    jidx = np.arange(SIMHASH_BITS, dtype=np.int64)
    # Per-task token-hash memo (guide §4.5: heavyweight work once per
    # task, amortized over every batch): token frequencies are Zipf,
    # so the md5 of a TYPE (unique token) is paid once, not once per
    # occurrence.  Bounded — a pathological vocabulary resets the
    # dict instead of growing without limit.
    tok_memo: dict[str, int] = {}

    def _tok_hash(t: str) -> int:
        h = tok_memo.get(t)
        if h is None:
            if len(tok_memo) > 1 << 16:
                tok_memo.clear()
            h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
            tok_memo[t] = h
        return h

    for pdf in it:
        sigs = []
        for text in pdf["text"]:
            toks = [
                t
                for t in _re.split(r"\s+", text or "", flags=_re.ASCII)
                if t
            ]
            if not toks:
                sigs.append(0)
                continue
            hs = np.array(
                [_tok_hash(t) for t in toks],
                dtype=np.int64,
            )
            bitmat = (hs[:, None] >> jidx) & 1
            votes = (2 * bitmat - 1).sum(axis=0)
            sig = int(((votes > 0).astype(np.int64) << jidx).sum())
            sigs.append(sig)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": sigs})


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) for a (doc_id, text) frame — streaming-safe
    (stateless mapInPandas)."""
    return docs.select("doc_id", "text").mapInPandas(
        _sig_batches, schema=_SIG_SCHEMA
    )


def _emit_near_dups(
    key, pdfs, state: GroupState
):
    from ..operators.dedup import SIMHASH_MAX_HAMMING

    import pandas as pd  # local: runs on executors

    if state.exists:
        ids, sigs = state.get
        ids, sigs = list(ids), list(sigs)
    else:
        ids, sigs = [], []
    out = []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values("doc_id")
        for did, sig in zip(pdf["doc_id"], pdf["simhash"]):
            did, sig = int(did), int(sig)
            for pid, psig in zip(ids, sigs):
                h = bin(sig ^ psig).count("1")
                if h <= SIMHASH_MAX_HAMMING:
                    d1, d2 = (pid, did) if pid < did else (did, pid)
                    out.append((d1, d2, h))
            ids.append(did)
            sigs.append(sig)
    state.update((ids, sigs))
    yield pd.DataFrame(out, columns=["doc1", "doc2", "hamming"])


def simhash_near_dup_stream(docs: DataFrame) -> DataFrame:
    """Streaming near-dup pairs over a (doc_id, text) stream."""
    from ..operators.dedup import SIMHASH_BAND_BITS, SIMHASH_BANDS

    sigs = simhash_signatures(docs).select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {SIMHASH_BANDS - 1}), i ->"
                f" (simhash >> (i * {SIMHASH_BAND_BITS}))"
                f" & {(1 << SIMHASH_BAND_BITS) - 1})"
            )
        ).alias("band", "band_val"),
    )
    return sigs.groupBy("band", "band_val").applyInPandasWithState(
        _emit_near_dups,
        outputStructType=_ND_OUTPUT,
        stateStructType=_ND_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def q_stream_simhash_near_dup(spark, sf_dir: str) -> DataFrame:
    """The streaming near-dup operator driven end-to-end: stream the
    documents table file-by-file (4 parquet parts = 4 micro-batches,
    so bucket state genuinely persists across triggers), drain with
    availableNow into a memory sink, and DISTINCT the emitted pairs
    (a pair can fire from several bands).  Oracle: the batch banded
    SimHash join — the drained pair set must equal it exactly.

    Hygiene (ADVICE r8): the staging dir is a FIXED per-sf path under
    tempdir (reused, not accumulated across sweep/bench runs), the
    memory sink reuses ONE query name (dropping the previous sink
    table so driver memory stays flat), and an availableNow drain
    that exceeds the timeout raises loudly instead of returning a
    silently partial pair set."""
    import hashlib
    import tempfile

    from ..sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    src = os.path.join(
        tempfile.gettempdir(), f"simhash_nd_src_{tag}"
    )
    docs.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "simhash_nd_sink"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        simhash_near_dup_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "q_stream_simhash_near_dup: availableNow drain did not"
            " finish within 300s — refusing to return a partial sink"
        )
    # materialize OUT of the memory sink so the returned plan no
    # longer depends on the sink table (the next call drops it)
    return (
        spark.table(name)
        .select("doc1", "doc2", "hamming")
        .distinct()
        .localCheckpoint(eager=True)
    )


# ----------------------------------------------- streaming URL dedup
#
# The streaming counterpart of operators/urls.q_url_dedup: a crawl
# frontier dedups by CANONICAL URL as fetches arrive — first fetch
# wins, recrawls and tracking-param variants are dropped on arrival.
# Canonicalization is the same stateless expression tree as the batch
# operator (scheme/host case, default ports, dot-segments, fragments,
# tracking params, param order), so it runs in any micro-batch;
# the only stateful stage is the watermarked dropDuplicates on the
# canonical key — state is O(URLs per watermark window), the same
# bound dedup_stream gives event_ids.


def url_dedup_stream(crawl: DataFrame) -> DataFrame:
    """First-seen-wins per canonical URL.  ``crawl`` carries
    (doc_id, url, event_time); output adds ``canon_url`` and keeps
    one row per canonical key."""
    from ..operators.urls import canonicalize_urls

    return (
        canonicalize_urls(crawl)
        .withWatermark("event_time", DEFAULT_WATERMARK)
        .dropDuplicates(["canon_url"])
    )


def _synthetic_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic synthetic raw URLs with a synthetic crawl
    time (doc_id seconds since epoch — arrival order = doc_id)."""
    from ..operators.urls import with_synthetic_urls
    from ..sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    return with_synthetic_urls(docs).withColumn(
        "event_time", F.expr("timestamp_micros(doc_id * 1000000)")
    )


def q_stream_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming URL-dedup code path executed on a batch frame
    (watermark a no-op outside a stream; stream-vs-batch equivalence
    pinned by tests/test_streaming_dedup.py).  Output is per-host
    unique-URL counts — a function of the surviving KEY SET only, so
    it is insensitive to which duplicate row batch-mode
    dropDuplicates happens to keep."""
    deduped = url_dedup_stream(_synthetic_crawl(spark, sf_dir))
    host = F.expr(
        "substring_index(substring_index(canon_url, '://', -1), '/', 1)"
    )
    return deduped.groupBy(host.alias("host")).agg(
        F.count(F.lit(1)).alias("n_urls")
    )


def _stream_url_dedup_sql() -> str:
    from ..operators.urls import _RAW_URL_SQL, _canon_sql

    return f"""
WITH raw AS (
  SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents
),
uniq AS (
  SELECT DISTINCT {_canon_sql("url")} AS canon_url FROM raw
)
SELECT split_part(split_part(canon_url, '://', 2), '/', 1) AS host,
       COUNT(*) AS n_urls
FROM uniq
GROUP BY host
"""


STREAM_URL_DEDUP_SQL = _stream_url_dedup_sql()
