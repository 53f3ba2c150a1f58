"""Table IO (SURVEY.md §7 step 0).

Every scan goes through ``spark.read.parquet`` so Catalyst gets the
parquet relation directly: predicate pushdown, column pruning, and
partition pruning all apply for free. No schema inference happens in
production paths — we assert the footer schema matches the declared
one instead (cheap; reads only metadata).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from pdf2dataset_spark.schemas import TABLE_SCHEMAS

TABLES = tuple(TABLE_SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Per-session relation cache: SparkSession -> {(sf_dir, name): DataFrame}.
#: DataFrames are immutable logical plans, so handing the same object to
#: every caller is safe and skips the repeated file listing + parquet
#: footer read + py4j round-trips that spark.read.parquet pays on each
#: call — the same role a catalog's cached relation metadata plays in a
#: long-lived engine. Keyed weakly so a stopped session releases its
#: entries.
_RELATION_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    Parquet self-describes its schema; we deliberately do NOT pass an
    explicit schema to ``read.parquet`` (that would disable nothing
    but can fight NTZ inference) — instead the declared schema in
    :mod:`pdf2dataset_spark.schemas` documents the contract and the
    test suite asserts equality.
    """
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_SCHEMAS)}")
    cache = _RELATION_CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    df = cache.get(key)
    if df is None:
        if name == "events":
            df = _load_events(spark, sf_dir)
        else:
            df = spark.read.parquet(table_path(sf_dir, name))
        cache[key] = df
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS) — Spark 4's vectorized
    reader rejects it (PARQUET_TYPE_ILLEGAL) unless the legacy
    nanosAsLong conf maps it to epoch-nanos LongType. We read it that
    way and rebuild a TIMESTAMP_NTZ at µs precision (floor-divide by
    1000), which matches DuckDB's own ns→µs truncation exactly."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_parquet_append(
    df: DataFrame, path: str, compression: str = "gzip"
) -> None:
    """Chunked incremental sink (SURVEY §2 A10).

    Executors write partitions directly — the driver never holds the
    data, which is the Spark-native equivalent of the reference's
    incremental pyarrow append. ``append`` mode makes re-runs additive;
    pair with :func:`pdf2dataset_spark.operators.resume.resume_filter`
    for idempotent resume.
    """
    df.write.mode("append").option("compression", compression).parquet(path)


def read_table_fmt(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    **options,
) -> DataFrame:
    """Format-generic scan with a REQUIRED declared schema.

    CSV/JSON inference would scan the data once just to guess types
    (and guess differently run to run) — at 100 TB that is both a full
    extra pass and a correctness hazard, so production paths always
    declare. Parquet/ORC carry their own schema; the declared one is
    still applied so drift fails loudly at plan time instead of
    corrupting downstream.
    """
    reader = spark.read.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).format(fmt).load(path)


def write_table_fmt(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    compression: str | None = None,
    **options,
) -> None:
    """Format-generic sink (parquet/csv/json/orc), compression-aware."""
    writer = df.write.mode(mode)
    if compression is not None:
        options["compression"] = compression
    if fmt == "csv":
        options.setdefault("header", "true")
    writer.options(**options).format(fmt).save(path)


def metadata_stats_scan(spark: SparkSession, path: str) -> DataFrame:
    """Scan for footer-metadata-only aggregation (COUNT/MIN/MAX).

    Parquet row-group footers already carry row counts and per-column
    min/max; Spark's v2 ParquetScan can answer COUNT(*)/MIN/MAX
    aggregations from them alone — zero data pages decoded, which at
    100 TB is the difference between a metadata read (MBs of footers)
    and a full-table scan. The rewrite only exists on the
    DataSource-v2 path, so this helper scopes
    ``spark.sql.sources.useV1SourceList`` to the relation-resolution
    instant (resolution is eager inside ``load``; the produced
    logical plan keeps its v2 scan node after the conf is restored —
    pinned in tests/test_plans.py) and enables
    ``spark.sql.parquet.aggregatePushdown`` (whose value is read when
    the CONSUMING aggregate plans, which may be long after this call
    returns — so a set-then-restore window cannot scope it). Both
    confs therefore live on a :func:`child_session`: the caller's
    session confs are never touched, and the returned DataFrame
    carries the child so pushdown holds whenever the caller's
    aggregate finally plans. Aggregate pushdown silently degrades to
    a normal scan when the query shape doesn't qualify (data filters,
    non-min/max/count aggregates, group-by on non-partition columns)
    — results stay correct either way.
    """
    return child_session(spark, _STATS_CONF).read.parquet(path)


_STATS_CONF = {
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.sources.useV1SourceList": "",
}

#: Parent session -> {frozen conf items -> its child session}.
_CHILD_SESSIONS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def child_session(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A ``spark.newSession()`` (same SparkContext, own SQLConf) that
    carries ``confs`` on top of the engine's runtime confs, made once
    per parent session and conf set.

    For confs Spark reads when a plan executes rather than when it is
    built: a relation or DataFrame made through the child keeps the
    child's values for as long as it lives, and the parent's confs
    are never set, so there is no restore window for a concurrent
    query on the parent to observe. Queries built on such a DataFrame
    run under the child's conf, which starts from the context's confs
    plus :data:`pdf2dataset_spark.session.RUNTIME_CONF`, not from
    confs set later on the parent.
    """
    by_conf = _CHILD_SESSIONS.setdefault(spark, {})
    key = frozenset(confs.items())
    s = by_conf.get(key)
    if s is None:
        from pdf2dataset_spark.session import apply_runtime_conf

        s = spark.newSession()
        # correctness-relevant runtime confs (UTC, Arrow) must match
        # the parent or e.g. footer min/max timestamps would shift
        apply_runtime_conf(s)
        for k, v in confs.items():
            s.conf.set(k, v)
        by_conf[key] = s
    return s


def table_stats(
    spark: SparkSession, sf_dir: str, name: str, cols: tuple[str, ...]
) -> DataFrame:
    """COUNT(*)+per-column MIN/MAX for a table, metadata-only."""
    from pyspark.sql import functions as F

    df = metadata_stats_scan(spark, table_path(sf_dir, name))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.agg(*aggs)
