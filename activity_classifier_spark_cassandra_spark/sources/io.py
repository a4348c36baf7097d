"""Sources & sinks (reference operators S1-S6, SURVEY.md §2.1).

The reference scans a Cassandra table (job/RecognizeActivity.java:49),
reads CSV fixtures in tests, writes features row-at-a-time over JDBC
(data/SampledDataDump.java:25-40) and persists mllib models to the
filesystem.  Spark-first equivalents:

- S1 table scan   -> ``spark.read.parquet`` (columnar, predicate/column
  pushdown; swap format for ``org.apache.spark.sql.cassandra`` in a real
  deployment — the connector jar is not in this image, so it is gated).
- S2 CSV scan     -> ``spark.read.csv`` with an explicit schema.
- S3 local rows   -> ``spark.createDataFrame``.
- S4 JDBC sink    -> ``df.write.jdbc`` (one batched executor-side write
  per partition instead of a driver-side INSERT loop); parquet sink as
  the default at scale.
- S5/S6 models    -> ``PipelineModel.save/load`` (see ml/models.py).
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.IntegerType()),
        T.StructField("activity", T.StringType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("acc_x", T.DoubleType()),
        T.StructField("acc_y", T.DoubleType()),
        T.StructField("acc_z", T.DoubleType()),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-testdata table (parquet; pushdown-friendly).

    ``spark.sql.legacy.parquet.nanosAsLong`` is set here at runtime (it
    is a dynamic SQL conf) so a TIMESTAMP(NANOS) events.ts encoding
    (older testdata generations) loads as a long of epoch nanoseconds
    instead of failing the parquet reader.  The current testdata stores
    ts as ``timestamp[us]`` (loads as TIMESTAMP_NTZ) — the ts_* helpers
    below normalize both encodings to one canonical timeline.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # UTC parity with the DuckDB oracle (naive timestamps = UTC): a
    # session built elsewhere (the driver's) may carry a local tz,
    # which would shift NTZ<->instant casts and string->timestamp casts.
    # The ts_* helpers below rely on this pin for tz-exactness.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ------------------------------------------------------- ts normalization
# The events.ts column has shipped in two physical encodings across
# testdata generations:
#   * parquet TIMESTAMP(NANOS)  -> long of epoch nanoseconds (with the
#     nanosAsLong conf above) — the round-1..2 encoding;
#   * parquet timestamp[us]     -> TIMESTAMP_NTZ — the current encoding.
# Every consumer goes through these helpers instead of assuming a unit,
# so the next schema drift is absorbed in exactly one place
# (tests/test_contract.py pins the current encoding).  All helpers are
# pure Column constructors: they fold into the scan-side projection and
# stay inside whole-stage codegen.


def _ts_dtype(df: DataFrame, col: str) -> str:
    for name, dt in df.dtypes:
        if name == col:
            return dt
    raise KeyError(f"column {col!r} not in {df.columns}")


def _require_legacy_nanos(dt: str, col: str) -> None:
    """Fail fast at plan-build time on an unrecognized ts encoding.

    The helpers below know exactly two physical encodings: any
    timestamp type, and the legacy epoch-nanos bigint.  A third
    encoding (epoch-micros long, ISO string, ...) must NOT fall
    through to the nanos branch — it would silently build a
    1000x-off timeline that only the oracle sweep could catch."""
    if dt != "bigint":
        raise ValueError(
            f"unknown ts encoding {dt!r} for column {col!r}: expected a "
            "timestamp type or the legacy epoch-nanos bigint. Extend the "
            "ts_* helpers in sources/io.py (and the pins in "
            "tests/test_contract.py) for the new encoding."
        )


def ts_ticks(df: DataFrame) -> tuple:
    """(exact integer timeline Column, ticks-per-millisecond).

    The exact unit preserves full source precision for ordering, as-of
    matching and band joins (ms truncation would merge distinct
    sub-millisecond instants).  NTZ wall-clock is UTC by contract
    (load_table pins the session tz, so the NTZ->instant cast is the
    identity mapping the DuckDB oracle's epoch_us(ts) applies)."""
    dt = _ts_dtype(df, "ts")
    if dt.startswith("timestamp"):
        return F.expr("unix_micros(cast(ts as timestamp))"), 1_000
    _require_legacy_nanos(dt, "ts")
    return F.col("ts"), 1_000_000  # legacy long = epoch nanos


def ts_ms_sql(df: DataFrame, col: str = "ts") -> str:
    """The canonical epoch-ms expression as a SQL fragment, for callers
    that need to compose further *integer* arithmetic (e.g. day
    bucketing with DIV) without a double-division round trip."""
    dt = _ts_dtype(df, col)
    if dt.startswith("timestamp"):
        return f"unix_millis(cast({col} as timestamp))"
    _require_legacy_nanos(dt, col)
    return f"{col} DIV 1000000"


def ts_ms(df: DataFrame, col: str = "ts"):
    """Canonical epoch-milliseconds long — matches DuckDB ``epoch_ms(ts)``
    (truncation toward -inf; all testdata instants are positive, where
    integer DIV agrees).  Integer arithmetic end-to-end: double division
    of epoch-scale longs loses precision past 2^53."""
    return F.expr(ts_ms_sql(df, col))


def ts_event_time(df: DataFrame, col: str = "ts"):
    """A real TIMESTAMP for watermarks / session_window / F.window.
    For the NTZ encoding this is the (UTC-pinned) cast; for legacy
    nanos it is timestamp_micros(ns DIV 1000) — integer, exact."""
    dt = _ts_dtype(df, col)
    if dt.startswith("timestamp"):
        return F.col(col).cast("timestamp")
    _require_legacy_nanos(dt, col)
    return F.expr(f"timestamp_micros({col} DIV 1000)")


def ts_literal(df: DataFrame, epoch_ms_value: int):
    """A literal comparable against the raw ts column — used so range
    predicates stay on the stored column and reach the parquet scan as
    PushedFilters (row-group pruning at 100 TB), instead of wrapping
    the column in a conversion that blocks pushdown."""
    dt = _ts_dtype(df, "ts")
    if dt == "timestamp_ntz":
        return F.expr(
            f"cast(timestamp_millis({epoch_ms_value}) as timestamp_ntz)"
        )
    if dt.startswith("timestamp"):
        return F.expr(f"timestamp_millis({epoch_ms_value})")
    _require_legacy_nanos(dt, "ts")
    return F.lit(epoch_ms_value * 1_000_000)  # legacy epoch nanos


def read_samples_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2: headerless CSV -> typed samples frame (test fixtures).

    Reference: sc.textFile(path).map(split(",")) at
    src/test/java/com/actitracker/data/ExtractFeatureTest.java:25-31.
    """
    return spark.read.csv(path, schema=SAMPLES_SCHEMA, header=False)


def write_features_parquet(df: DataFrame, path: str) -> None:
    """Default feature-table sink: parquet, overwrite."""
    df.write.mode("overwrite").parquet(path)


def write_features_jdbc(
    df: DataFrame,
    url: str,
    table: str = "activity_with_features",
    properties: dict | None = None,
) -> None:
    """S4 parity: the reference INSERTs one row per feature vector from
    the driver (data/SampledDataDump.java:25-40).  Distributed JDBC
    write instead: each partition opens one connection and batches.
    """
    df.write.mode("append").jdbc(url, table, properties=properties or {})


CASSANDRA_FORMAT = "org.apache.spark.sql.cassandra"


def cassandra_scan_config(keyspace: str, table: str) -> dict:
    """The exact reader spec for the S1 production scan — format +
    options matching the reference's connector usage
    (job/RecognizeActivity.java:39 builds the connector session,
    :49 reads keyspace/table).  Kept as a pure function so the
    no-cluster unit test can pin it without the connector jar."""
    return {
        "format": CASSANDRA_FORMAT,
        "options": {"keyspace": keyspace, "table": table},
    }


def read_cassandra(spark: SparkSession, keyspace: str, table: str) -> DataFrame:
    """S1 production path.  Requires the spark-cassandra-connector jar
    (not bundled in this image); gated so local tests never touch it.
    """
    cfg = cassandra_scan_config(keyspace, table)
    return spark.read.format(cfg["format"]).options(**cfg["options"]).load()


def warehouse_dir(spark: SparkSession) -> str:
    """Local-filesystem path of the session warehouse, URI-parsed so
    ``file:/p``, ``file:///p`` and bare paths all resolve the same.
    Relative paths (the Spark default ``spark-warehouse``) resolve
    against the driver cwd, matching Spark's own behavior."""
    raw = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    p = urlparse(raw)
    if p.scheme in ("", "file"):
        return os.path.abspath(p.path or raw)
    return raw


def managed_table_path(spark: SparkSession, table: str) -> str:
    """Directory a managed table's data files live in:
    ``<warehouse>/<identifier lowercased>`` (Spark lowercases table
    identifiers on disk).  The ONE place this layout is computed, so
    operators/bucketing.py's idempotency cleanup and its table path
    can never diverge."""
    return os.path.join(warehouse_dir(spark), table.split(".")[-1].lower())


def clear_stale_table_location(spark: SparkSession, table: str) -> None:
    """saveAsTable idempotency guard: a fresh metastore (derby discarded
    between sessions) plus a leftover warehouse directory raises
    LOCATION_ALREADY_EXISTS on overwrite — the catalog no longer
    vouches for the path, so remove it before writing."""
    leftover = managed_table_path(spark, table)
    if os.path.isdir(leftover):
        import shutil

        shutil.rmtree(leftover, ignore_errors=True)


# ------------------------------------------------------- other formats
# The reference reads exactly one store (Cassandra); a production
# ingest surface needs the common interchange formats too.  All four
# are thin wrappers over Spark's native readers/writers so pushdown
# and schema enforcement behave exactly like the parquet path:
# - JSONL is the lingua franca of web-scraped / LLM corpus drops;
#   ALWAYS pass an explicit schema (schema inference is a full extra
#   pass over 100 TB, and silently types everything it can't prove).
# - ORC is the other columnar format with predicate pushdown; reading
#   it costs nothing extra to support since Spark bundles the reader.


# Spark's default JSON timestamp pattern is millisecond-precision —
# a silent 999-in-1000 row corruption on microsecond data.  Pin the
# full-precision pattern on BOTH sides of the roundtrip.
_JSON_TS_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Newline-delimited JSON scan with a mandatory explicit schema."""
    return spark.read.options(**_JSON_TS_OPTS).schema(schema).json(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.options(**_JSON_TS_OPTS).mode("overwrite").json(path)


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked JSONL roundtrip: events → JSONL (pinned
    microsecond timestamp format) → re-read under the original schema
    → per-type rollup value-hashed against the oracle running on the
    ORIGINAL parquet.  Any format/precision drift in the JSON path
    (the next timestampFormat regression) shifts min/max ts here and
    fails in the driver window, not just in pytest.  The decimal-cast
    sum keeps the double checksum order-independent."""
    import tempfile
    import uuid

    ev = load_table(spark, sf_dir, "events")
    # unique dir per call: a path shared across processes (driver,
    # bench, pytest) would race overwrite-vs-lazy-read on the same
    # part files
    out = os.path.join(
        tempfile.gettempdir(),
        "acsc_jsonl_roundtrip",
        f"{os.path.basename(sf_dir.rstrip('/')) or 'sf'}-{uuid.uuid4().hex}",
    )
    write_jsonl(ev, out)
    back = read_jsonl(spark, out, ev.schema)
    ms = ts_ms(back, "ts")
    res = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min(ms).alias("min_ts_ms"),
        F.max(ms).alias("max_ts_ms"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )
    # the rollup is <= |event_type| rows: materialize it eagerly so
    # the staging dir can be deleted NOW instead of accumulating one
    # uuid dir per call across sweep/bench runs (ADVICE r8)
    res = res.localCheckpoint(eager=True)
    shutil.rmtree(out, ignore_errors=True)
    return res


JSONL_ROUNDTRIP_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       MIN(epoch_ms(ts)) AS min_ts_ms,
       MAX(epoch_ms(ts)) AS max_ts_ms,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
"""


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked ORC roundtrip: events → ORC → re-read → the same
    per-type rollup as the JSONL roundtrip, value-hashed against the
    oracle on the ORIGINAL parquet.  Pins the second columnar
    source/sink end to end — timestamp (NTZ) fidelity, decimal-exact
    checksum, distinct-count — so an ORC writer/reader regression
    fails in the driver window."""
    import tempfile
    import uuid

    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        "acsc_orc_roundtrip",
        f"{os.path.basename(sf_dir.rstrip('/')) or 'sf'}-{uuid.uuid4().hex}",
    )
    write_orc(ev, out)
    back = read_orc(spark, out)
    ms = ts_ms(back, "ts")
    res = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min(ms).alias("min_ts_ms"),
        F.max(ms).alias("max_ts_ms"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )
    res = res.localCheckpoint(eager=True)  # see q_jsonl_roundtrip
    shutil.rmtree(out, ignore_errors=True)
    return res


ORC_ROUNDTRIP_SQL = JSONL_ROUNDTRIP_SQL


def read_events_csv(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """CSV scan with a mandatory explicit schema and the same pinned
    microsecond timestamp format as the JSONL path."""
    return (
        spark.read.options(header="true", **_JSON_TS_OPTS)
        .schema(schema)
        .csv(path)
    )


def write_events_csv(df: DataFrame, path: str) -> None:
    df.write.options(header="true", **_JSON_TS_OPTS).mode(
        "overwrite"
    ).csv(path)


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked CSV roundtrip (closes the S2 row's pytest-only
    gap): events → CSV (pinned timestamp format, header) → re-read
    under the original schema → the same per-type rollup as the
    JSONL/ORC roundtrips, value-hashed against the oracle running on
    the ORIGINAL parquet.  Same temp hygiene: the tiny rollup is
    materialized eagerly and the staging dir removed immediately."""
    import tempfile
    import uuid

    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        "acsc_csv_roundtrip",
        f"{os.path.basename(sf_dir.rstrip('/')) or 'sf'}-{uuid.uuid4().hex}",
    )
    write_events_csv(ev, out)
    back = read_events_csv(spark, out, ev.schema)
    ms = ts_ms(back, "ts")
    res = back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min(ms).alias("min_ts_ms"),
        F.max(ms).alias("max_ts_ms"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )
    res = res.localCheckpoint(eager=True)
    shutil.rmtree(out, ignore_errors=True)
    return res


CSV_ROUNDTRIP_SQL = JSONL_ROUNDTRIP_SQL


# ------------------------------------------- schema-evolution read
#
# Real tables evolve: files written before a column existed sit next
# to files written after.  A 100 TB table can never be rewritten just
# because a column was added, so the READER must union schemas across
# file generations (Spark: parquet ``mergeSchema``; the same contract
# Iceberg/Delta implement with schema-id metadata).  This query does
# the whole loop end-to-end: write a generation-1 slice WITHOUT
# event_type and a generation-2 slice WITH it, read the directory with
# mergeSchema (gen-1 rows surface NULL event_type), and roll up.  The
# DuckDB oracle computes the expected result straight from the
# original table using the same deterministic generation rule — so a
# lossy or misaligned merge read (dropped rows, column misbinding,
# wrong NULL fill) hash-mismatches.

def write_two_generation_table(ev, path: str) -> None:
    """gen1/ = even event_ids, pre-evolution schema (no event_type);
    gen2/ = odd event_ids, evolved schema (adds event_type)."""
    gen1 = ev.filter(F.expr("event_id % 2 = 0")).select(
        "event_id", "user_id", "value"
    )
    gen2 = ev.filter(F.expr("event_id % 2 = 1")).select(
        "event_id", "user_id", "value", "event_type"
    )
    gen1.write.mode("overwrite").parquet(os.path.join(path, "gen1"))
    gen2.write.mode("overwrite").parquet(os.path.join(path, "gen2"))


def read_merged_schema(spark: SparkSession, path: str):
    """Union-schema read across generations; missing columns are NULL
    for files that predate them."""
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-generation write → mergeSchema read → rollup, hash-compared
    against the original table under the same generation rule."""
    import shutil
    import tempfile
    import uuid

    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        "acsc_schema_evolution",
        f"{os.path.basename(sf_dir.rstrip('/')) or 'sf'}-{uuid.uuid4().hex}",
    )
    write_two_generation_table(ev, out)
    merged = read_merged_schema(spark, out)
    result = (
        merged.groupBy(
            F.coalesce("event_type", F.lit("pre_evolution")).alias(
                "event_type"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_value"),
        )
        # materialize so the temp generations can be deleted before
        # the caller consumes the frame
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out, ignore_errors=True)
    return result


SCHEMA_EVOLUTION_SQL = """
SELECT CASE WHEN event_id % 2 = 0 THEN 'pre_evolution'
            ELSE event_type END AS event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
         AS sum_value
FROM events
GROUP BY 1
"""
