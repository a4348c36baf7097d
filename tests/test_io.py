"""Source/sink coverage: S2 CSV scan, S3 local collection, parquet
feature sink round-trip, S4 JDBC write+readback against the Derby
embedded database bundled with Spark, and the pinned S1 Cassandra
production reader spec."""

from __future__ import annotations

from activity_classifier_spark_cassandra_spark.sources.io import (
    SAMPLES_SCHEMA,
    read_samples_csv,
    write_features_parquet,
)
from conftest import assert_same_rows, duckdb_frame


def test_read_samples_csv(spark, tmp_path):
    """S2: headerless CSV -> typed samples frame
    (ExtractFeatureTest.java:25-31 parity)."""
    p = tmp_path / "samples.csv"
    p.write_text(
        "1,Walking,1000,0.5,9.8,-0.1\n"
        "1,Walking,1050,0.6,9.7,-0.2\n"
        "2,Jogging,2000,-3.1,12.4,1.0\n"
    )
    df = read_samples_csv(spark, str(p))
    assert df.schema == SAMPLES_SCHEMA
    rows = sorted(df.collect(), key=lambda r: r["timestamp"])
    assert rows[0]["user_id"] == 1
    assert rows[0]["activity"] == "Walking"
    assert rows[0]["acc_y"] == 9.8
    assert rows[2]["user_id"] == 2 and rows[2]["acc_z"] == 1.0


def test_local_collection_source(spark):
    """S3: driver list -> DataFrame (sc.parallelize parity,
    RecognizeActivity.java:130)."""
    df = spark.createDataFrame(
        [(1, "Walking", 1000, 0.1, 9.8, 0.0)], schema=SAMPLES_SCHEMA
    )
    assert df.count() == 1 and df.schema == SAMPLES_SCHEMA


def test_write_features_parquet_roundtrip(spark, tmp_path):
    """Feature sink: parquet out, identical frame back."""
    df = spark.createDataFrame(
        [(0.0, 1.5), (1.0, -2.5)], ["label", "mean_v"]
    )
    path = str(tmp_path / "features")
    write_features_parquet(df, path)
    back = spark.read.parquet(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_cassandra_scan_config_pins_production_path():
    """S1 production reader spec (job/RecognizeActivity.java:39,49):
    the connector jar isn't in this image, so pin the generated
    format/options instead of a live scan."""
    from activity_classifier_spark_cassandra_spark.sources.io import (
        CASSANDRA_FORMAT,
        cassandra_scan_config,
    )

    cfg = cassandra_scan_config("actitracker", "users")
    assert cfg["format"] == CASSANDRA_FORMAT == "org.apache.spark.sql.cassandra"
    assert cfg["options"] == {"keyspace": "actitracker", "table": "users"}


def test_jdbc_sink_roundtrip_embedded_derby(spark, tmp_path):
    """S4 (data/SampledDataDump.java:25-40 parity): distributed
    df.write.jdbc against the Derby embedded database bundled with
    Spark — a real JDBC write+readback, table `activity_with_features`
    like the reference's dump target."""
    from activity_classifier_spark_cassandra_spark.sources.io import (
        write_features_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/featdb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    feats = spark.createDataFrame(
        [(1, "Walking", 52.3, 101.9), (2, "Jogging", 77.1, 340.2)],
        "user_id long, activity string, mean_v double, var_v double",
    ).coalesce(1)
    write_features_jdbc(feats, url, properties=props)
    back = spark.read.jdbc(url, "activity_with_features", properties=props)
    rows = {r["user_id"]: r for r in back.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["activity"] == "Walking"
    assert abs(rows[2]["var_v"] - 340.2) < 1e-9


def test_jsonl_roundtrip_preserves_events(spark, tmp_path):
    """JSONL sink->scan roundtrip: same rows, schema enforced by the
    reader (timestamps survive as ISO strings and parse back)."""
    from activity_classifier_spark_cassandra_spark.sources.io import (
        load_table,
        read_jsonl,
        write_jsonl,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_jsonl")
    write_jsonl(ev, path)
    back = read_jsonl(spark, path, ev.schema)
    assert back.schema == ev.schema
    assert back.count() == ev.count()
    assert (
        back.exceptAll(ev).count() == 0 and ev.exceptAll(back).count() == 0
    )


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC sink->scan roundtrip plus predicate pushdown reaching the
    ORC scan (searchArgument / PushedFilters)."""
    from pyspark.sql import functions as F

    from activity_classifier_spark_cassandra_spark.sources.io import (
        load_table,
        read_orc,
        write_orc,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_orc")
    write_orc(ev, path)
    back = read_orc(spark, path)
    assert back.count() == ev.count()
    assert (
        back.exceptAll(ev).count() == 0 and ev.exceptAll(back).count() == 0
    )
    plan = (
        back.filter(F.col("user_id") > 100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(user_id), GreaterThan(user_id,100)" in plan


def test_jsonl_roundtrip_matches_oracle(spark):
    """q_jsonl_roundtrip (events → JSONL → re-read → rollup) must equal
    the DuckDB rollup over the ORIGINAL parquet — any timestamp format
    or float precision drift in the JSON path breaks min/max ts or the
    decimal-cast checksum."""
    from activity_classifier_spark_cassandra_spark.sources.io import (
        JSONL_ROUNDTRIP_SQL,
        q_jsonl_roundtrip,
    )

    sf = "/root/testdata/sf0.001"
    sdf = q_jsonl_roundtrip(spark, sf).toPandas()
    assert_same_rows(sdf, duckdb_frame(JSONL_ROUNDTRIP_SQL, sf))


def test_schema_evolution_merge_read(spark, tmp_path):
    """gen-1 files lack event_type: the merged read must surface the
    union schema with NULLs for pre-evolution rows, losing nothing."""
    from activity_classifier_spark_cassandra_spark.sources.io import (
        load_table,
        read_merged_schema,
        write_two_generation_table,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    out = str(tmp_path / "twogen")
    write_two_generation_table(ev, out)
    merged = read_merged_schema(spark, out)
    assert "event_type" in merged.columns
    assert merged.count() == ev.count()  # lossless
    nulls = merged.filter("event_type IS NULL").count()
    assert nulls == ev.filter("event_id % 2 = 0").count()


def test_orc_roundtrip_preserves_schema_and_rows(spark, tmp_path):
    from activity_classifier_spark_cassandra_spark.sources.io import (
        load_table,
        read_orc,
        write_orc,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "orc")
    write_orc(ev, out)
    back = read_orc(spark, out)
    assert back.schema == ev.schema
    assert back.count() == ev.count()


def test_csv_roundtrip_full_frame_exact(spark, tmp_path):
    """events -> CSV (pinned ts format) -> re-read must reproduce the
    FULL frame exactly (not just the rollup the driver checks): same
    rows, same ts instants, same doubles."""
    from activity_classifier_spark_cassandra_spark.sources.io import (
        load_table,
        read_events_csv,
        write_events_csv,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "events_csv")
    write_events_csv(ev, path)
    back = read_events_csv(spark, path, ev.schema)
    assert back.schema == ev.schema
    cols = ev.columns
    a = sorted(map(tuple, ev.select(cols).collect()))
    b = sorted(map(tuple, back.select(cols).collect()))
    assert a == b
