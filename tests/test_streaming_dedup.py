"""Streaming dedup: a doubled event feed must come out exactly once,
matching the batch distinct — and the plan must carry watermark state
cleanup, not unbounded dedup state."""

from __future__ import annotations

from pyspark.sql import functions as F

from activity_classifier_spark_cassandra_spark.sources.io import load_table
from activity_classifier_spark_cassandra_spark.streaming.dedup import dedup_stream

SF = "/root/testdata/sf0.001"


def _doubled_stream(spark, tmp_path):
    """Serve every event twice through a file-source stream (an
    at-least-once feed replaying its input)."""
    batch = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    doubled = batch.unionAll(batch)
    src = str(tmp_path / "events_dup")
    doubled.write.mode("overwrite").parquet(src)
    return batch, spark.readStream.schema(doubled.schema).parquet(src)


def _run(stream_df, sink: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_dedup_stream_exactly_once(spark, tmp_path):
    batch, stream = _doubled_stream(spark, tmp_path)
    _run(dedup_stream(stream), "dedup_sink")
    got = spark.table("dedup_sink")
    n_unique = batch.select("event_id").distinct().count()
    assert got.count() == n_unique
    # every surviving row is a real input row, once
    assert got.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_dedup_state_is_watermarked(spark, tmp_path):
    """The streaming plan must include the watermark (state cleanup);
    without it dedup state grows with every key ever seen."""
    _, stream = _doubled_stream(spark, tmp_path)
    plan = dedup_stream(stream)._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_python_simhash_matches_batch_signatures(spark):
    """The streaming path's Python (hashlib+numpy) signature must be
    bit-identical to the batch JVM explode+groupBy signature for
    every document — a true cross-engine pin of the tokenization,
    the md5 token hash, and the order-free bit votes."""
    from activity_classifier_spark_cassandra_spark.operators.dedup import _simhash_sigs
    from activity_classifier_spark_cassandra_spark.sources.io import load_table
    from activity_classifier_spark_cassandra_spark.streaming.dedup import simhash_signatures

    sf = "/root/testdata/sf0.001"
    batch = {
        int(r.doc_id): int(r.simhash)
        for r in _simhash_sigs(spark, sf).collect()
    }
    docs = simhash_signatures(
        load_table(spark, sf, "documents").select("doc_id", "text")
    )
    py_sigs = {int(r.doc_id): int(r.simhash) for r in docs.collect()}
    assert py_sigs == batch


def test_stream_near_dup_pairs_equal_batch_join(spark):
    """Drained streaming pair set == the batch banded SimHash join."""
    from activity_classifier_spark_cassandra_spark.operators.dedup import q_simhash_near_dup
    from activity_classifier_spark_cassandra_spark.streaming.dedup import (
        q_stream_simhash_near_dup,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (int(r.doc1), int(r.doc2), int(r.hamming))
        for r in q_stream_simhash_near_dup(spark, sf).collect()
    }
    want = {
        (int(r.doc1), int(r.doc2), int(r.hamming))
        for r in q_simhash_near_dup(spark, sf).collect()
    }
    assert got == want and len(want) > 0


def test_stream_url_dedup_matches_batch(spark, tmp_path):
    """A recrawling feed (every URL served twice, the second time as a
    different raw variant of the same canonical page) must come out of
    the STREAM with exactly the batch-distinct canonical key set and
    per-host counts."""
    from pyspark.sql import functions as F2

    from activity_classifier_spark_cassandra_spark.streaming.dedup import (
        _synthetic_crawl,
        q_stream_url_dedup,
        url_dedup_stream,
    )

    crawl = _synthetic_crawl(spark, SF)
    # recrawl: same canonical page, different raw variant (append a
    # tracking param — canonicalizes away).  '&' when the raw URL
    # already has a query: a second '?' would be query DATA under the
    # RFC 3986 first-'?' rule and make a genuinely different page.
    recrawl = crawl.withColumn(
        "url",
        F2.concat(
            "url",
            F2.when(F2.instr("url", "?") > 0, F2.lit("&utm_replay=1"))
            .otherwise(F2.lit("?utm_replay=1")),
        ),
    ).withColumn(
        "event_time", F2.expr("event_time + INTERVAL 1 MINUTE")
    )
    feed = crawl.unionAll(recrawl)
    src = str(tmp_path / "crawl_feed")
    feed.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = "url_dedup_sink"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    q = (
        url_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "availableNow drain timed out"
    got = spark.table(name)
    # exactly-once per canonical key
    assert (
        got.groupBy("canon_url").count().filter(F2.col("count") > 1).count()
        == 0
    )
    host = F2.expr(
        "substring_index(substring_index(canon_url, '://', -1), '/', 1)"
    )
    got_hosts = {
        r["host"]: r["n"]
        for r in got.groupBy(host.alias("host"))
        .agg(F2.count(F2.lit(1)).alias("n"))
        .collect()
    }
    want_hosts = {
        r["host"]: r["n_urls"]
        for r in q_stream_url_dedup(spark, SF).collect()
    }
    assert got_hosts == want_hosts


def test_stream_url_dedup_state_is_watermarked(spark, tmp_path):
    from activity_classifier_spark_cassandra_spark.streaming.dedup import (
        _synthetic_crawl,
        url_dedup_stream,
    )

    crawl = _synthetic_crawl(spark, SF)
    src = str(tmp_path / "crawl_wm")
    crawl.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(crawl.schema).parquet(src)
    plan = (
        url_dedup_stream(stream)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "EventTimeWatermark" in plan
