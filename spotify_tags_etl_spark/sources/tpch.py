"""Parquet warehouse source layer for the driver-generated test tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an
``sf*/`` directory.

Scale notes (100 TB design point):

* ``spark.read.parquet`` is the only scan primitive — predicate pushdown,
  column pruning, and partition pruning all flow from declaring the read
  here and filtering lazily downstream. Never ``.cache()`` inside the
  loader; callers decide materialization.
* At cluster scale these would be directory-partitioned datasets
  (``orders/o_orderdate=.../``); the loader takes any path, so swapping a
  partitioned root in requires no call-site change.
* Schema inference runs at most once per file version. A bare
  ``spark.read.parquet(path)`` starts a footer-reading Spark job on every
  call; :func:`parquet_schema` instead keeps a process-wide cache of the
  inferred ``StructType`` (never a DataFrame: each load must still build a
  fresh relation with fresh attribute IDs, or ``a["k"] == b["k"]``
  self-joins turn trivially true) and later loads use
  ``spark.read.schema(cached).parquet(path)``, which starts no job.
  The key is the real path plus the session confs that change the inferred
  schema (:data:`SCHEMA_CONFS`). Each entry stores a stat fingerprint
  (``st_ino``, ``st_mtime_ns``, ``st_size``; for a directory, of every
  data file under it); a mismatch re-infers and replaces the entry, so a
  fixture regenerated in place with a new ``ts`` encoding is picked up.
  One entry per key (a new file version replaces it, nothing is evicted),
  one lock around the dict. Paths that cannot be stat'ed locally (object
  stores, missing files) are read uncached.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampNTZType

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that are always sensible broadcast candidates.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Session confs whose values change the schema Spark infers from a
#: parquet footer; part of the schema-cache key.
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

_schema_lock = threading.Lock()
#: (real path, conf values) -> (stat fingerprint, inferred schema)
_schema_cache: dict[tuple, tuple[tuple, StructType]] = {}


def _fingerprint(real: str) -> tuple | None:
    """Stat fingerprint of a parquet file, or of every data file under a
    directory (Spark skips ``_``/``.``-prefixed entries, and so does this).
    ``None`` when the path cannot be stat'ed locally."""
    try:
        if not os.path.isdir(real):
            st = os.stat(real)
            return (st.st_ino, st.st_mtime_ns, st.st_size)
        files = []
        for root, dirs, names in os.walk(real):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            for n in sorted(names):
                if not n.startswith(("_", ".")):
                    st = os.stat(os.path.join(root, n))
                    files.append((os.path.join(root, n), st.st_ino, st.st_mtime_ns, st.st_size))
        return tuple(files)
    except OSError:
        return None


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, inferred at most
    once per file version and session-conf combination (module docstring)."""
    real = os.path.realpath(path)
    stamp = _fingerprint(real)
    if stamp is None:
        return spark.read.parquet(path).schema
    key = (real, tuple(spark.conf.get(k) for k in SCHEMA_CONFS))
    with _schema_lock:
        hit = _schema_cache.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    # Infer outside the lock: a concurrent miss on the same path only
    # repeats the footer read, it never blocks other tables' loads. The
    # stamp predates the read, so a file replaced mid-read re-infers next time.
    schema = spark.read.parquet(path).schema
    with _schema_lock:
        _schema_cache[key] = (stamp, schema)
    return schema


def ensure_session_defaults(spark: SparkSession) -> None:
    """Pin runtime-settable confs every loader depends on, on ANY session.

    The driver harness hands queries a vanilla SparkSession (none of our
    ``session.py`` build-time confs). Round 1 lost 18/50 driver checks to a
    loader that assumed a build-time conf; the standing rule is that every
    entry-point loader self-heals the confs it needs:

    * ``spark.sql.session.timeZone = UTC`` — parquet timestamps are instants;
      HOUR / date_format / year / string→timestamp literal casts all render
      in the *session* timezone, while the DuckDB oracles compare naive-UTC
      values. On a driver JVM whose default TZ is not UTC, every
      time-bucketing query would shift by the UTC offset without this pin.
    * ``spark.sql.ansi.enabled = false`` — Spark 4 defaults ANSI on for
      vanilla sessions while our ``session.py`` factory runs ANSI off; the
      engine's documented semantics (wrap-around integer sufficient
      statistics with stated overflow bounds, NULL on degenerate
      arithmetic) are the ANSI-off ones, and they must not depend on which
      session the caller built. Hot-path divisions are additionally
      NULLIF-guarded so results match the DuckDB oracles in either mode.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a canonical pair regardless of
    the parquet file's physical encoding:

    * ``ts``    — TIMESTAMP (instant; session tz is pinned UTC upstream)
    * ``ts_ns`` — BIGINT epoch nanoseconds (full-precision ordering key)

    The driver regenerates the fixtures between rounds and has shipped two
    encodings so far: TIMESTAMP(NANOS) (readable only as bigint ns via
    ``spark.sql.legacy.parquet.nanosAsLong``) and plain ``timestamp[us]``
    (read as TIMESTAMP_NTZ). Branching on the *observed* dtype here — not
    on an assumed encoding — is what keeps every downstream event-time
    operator (windows, as-of joins, watermarks) stable across regens.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        # nanosAsLong path: keep full-precision ns, derive a usec instant.
        return df.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns DIV 1000"))
        )
    if dtype == "timestamp_ntz":
        # usec-encoded naive timestamp: the session tz is pinned UTC by
        # ensure_session_defaults, so the NTZ→TIMESTAMP cast is value-stable
        # (same wall-clock digits, now an instant — required by
        # withWatermark, which rejects TIMESTAMP_NTZ event time).
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        dtype = "timestamp"
    if dtype == "timestamp" and "ts_ns" not in df.columns:
        df = df.withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TPCH_TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TPCH_TABLES}")
    ensure_session_defaults(spark)
    if name == "events":
        # Some fixture generations store TIMESTAMP(NANOS); vanilla Spark
        # rejects that physical type outright (PARQUET_TYPE_ILLEGAL) unless
        # this runtime conf is on. Harmless for usec-encoded files. Set it
        # here so the loader is self-sufficient on ANY session it is handed
        # (driver harness, notebooks), not only sessions built by our
        # session.py factory.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    else:
        # Generalized round-2 lesson: fixture regens can flip timestamp
        # encodings on ANY table. The session tz is pinned UTC above, so
        # NTZ→TIMESTAMP is value-stable, and DuckDB (which reads the same
        # parquet naively) renders identical wall-clock digits either way.
        ntz = [f.name for f in schema.fields if isinstance(f.dataType, TimestampNTZType)]
        if ntz:
            from pyspark.sql import functions as F

            df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every test table lazily; nothing is scanned until an action."""
    return {name: load_table(spark, sf_dir, name) for name in TPCH_TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register each table as a temp view for ``spark.sql`` queries."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
