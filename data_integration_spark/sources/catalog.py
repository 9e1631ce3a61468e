"""Multi-table catalog over a directory of Parquet tables.

Reference parity: the reference loads one ``.RDS`` file holding a list of 3
data.frames (``Method_code.Rmd:41-42``) and addresses them positionally.
Spark-first equivalent: a directory of self-describing Parquet tables read
lazily with ``spark.read.parquet`` and addressed by name; ``register_views``
exposes every table to the SQL entry point (the reference's ``sqldf`` bridge,
``Method_code.Rmd:763-772``, minus the data copy).

At 100 TB each "table" is a partitioned Parquet dataset; nothing here assumes
single files. Predicate pushdown / column pruning happen at the scan because
tables are exposed lazily — no eager materialization.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession

from data_integration_spark.session import SCRATCH_ROOT

_PYFILE_SHIPPED: set[str] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    The external driver loads ``__spark_entry__.py`` by file path from an
    arbitrary cwd and patches only the DRIVER process's ``sys.path``;
    executor Python workers inherit neither, so any closure that references
    a module-level symbol (mapInPandas decoders, applyInPandasWithState
    folds, the Laplace solver) dies with ModuleNotFoundError unless the
    package travels with the job. A zip of the package is (re)built under
    ``.scratch`` when stale and added once per SparkContext — executors
    zipimport it on their next task."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _PYFILE_SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    repo = os.path.dirname(pkg_dir)
    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    # Staleness key = hash of the sorted (path, mtime, size) manifest, baked
    # into the zip NAME. A bare max-mtime check misses deletes/renames (max
    # mtime unchanged → executors keep importing the removed module), and a
    # content-addressed name means concurrent processes either agree on the
    # file or write distinct ones — no shared .tmp to corrupt.
    manifest = "\n".join(
        f"{os.path.relpath(p, repo)}\t{os.path.getmtime(p)}\t{os.path.getsize(p)}"
        for p in sorted(sources)
    )
    digest = hashlib.sha256(manifest.encode()).hexdigest()[:16]
    zip_path = os.path.join(SCRATCH_ROOT, f"data_integration_spark_pkg_{digest}.zip")
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(dir=SCRATCH_ROOT, suffix=".zip.tmp")
        os.close(fd)
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for p in sorted(sources):
                z.write(p, os.path.relpath(p, repo))
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    # right-size shuffles for the local test scale, but ONLY when the
    # session still carries Spark's out-of-the-box default — a deliberate
    # driver/user setting is never overridden
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set("spark.sql.shuffle.partitions", "32")
    except Exception:
        pass
    _PYFILE_SHIPPED.add(app)


def spread_scan(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin-spread a small scan before a CPU-heavy per-row stage
    (r15, guide §2.5's unsplittable-input fix): the driver testdata is
    one small parquet file per table → ONE input split → every
    gram-explode / hash / codec kernel above it ran single-core. The
    exchange carries only the caller's (projected, filtered) rows, once;
    ``defaultParallelism`` tracks the cluster, and on a real many-file
    table the same call is a cheap rebalance of the narrow projection.
    Only for row-independent downstream work — it changes partitioning,
    never values."""
    sc = df.sparkSession.sparkContext
    return df.repartition(parts or sc.defaultParallelism)


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


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Coerce top-level ``TIMESTAMP_NTZ`` columns to true ``TIMESTAMP``.

    Parquet ``timestamp[us]`` without the isAdjustedToUTC annotation resolves
    as ``TIMESTAMP_NTZ`` under some session configs; every event-time
    operator downstream (``unix_micros``, ``withWatermark``, window joins)
    requires the LTZ type. Normalizing once at the catalog boundary keeps the
    rest of the engine session-config-independent. The cast is a wall-clock
    reinterpretation under the session UTC timezone — values are unchanged
    and match DuckDB's naive-timestamp reading."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


#: Parquet-footer row counts keyed (sf_dir, name) — pure file metadata
#: (the parquet footer records num_rows), read once per table via
#: pyarrow with no Spark job. Queries that size a partitioning or a
#: training bound off a FULL-table row count use this instead of a
#: ``df.count()`` job (guide §6: table metadata is what manifests give
#: you for free). The testdata directories are immutable by contract.
_ROWCOUNT_MEMO: dict[tuple[str, str], int] = {}


def table_rowcount(sf_dir: str, name: str) -> int:
    """Exact row count of one catalog table from parquet footer metadata
    (no Spark job; supports both a flat file and a directory of part
    files)."""
    key = (sf_dir, name)
    cached = _ROWCOUNT_MEMO.get(key)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        total = sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    else:
        total = pq.ParquetFile(path).metadata.num_rows
    _ROWCOUNT_MEMO[key] = int(total)
    return int(total)


#: Session-scoped lazy-DataFrame memo keyed (applicationId, sf_dir, name).
#: ``spark.read.parquet`` re-lists the directory and re-reads footers on
#: EVERY call (~150-250 ms of driver-side metadata work + py4j), and the
#: bench/driver rebuild each query once per timed pass — so a 2-table
#: query paid ~0.5 s/pass in repeated metadata reads alone. Caching the
#: resolved LAZY plan is table-metadata caching (what a catalog table or
#: Iceberg manifest gives you for free — guide §6 "file listing"):
#: no row is materialized, every action still computes from the parquet
#: files. Keyed by applicationId so a new session never sees a stale
#: handle; the testdata directories are immutable by contract.
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy Parquet scan of one table (reference S1, ``Rmd:41-42``).

    Nanosecond-precision timestamp columns arrive as epoch-nanos longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and are narrowed to
    microsecond timestamps here — integer division, matching DuckDB's
    nanos→micros truncation, so both engines see identical values.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    sc = spark.sparkContext
    app_id = getattr(sc, "_dis_app_id", None)
    if app_id is None:
        # applicationId is a py4j round-trip (~ms); pin it on the Python
        # SparkContext object, whose lifetime equals the app's
        app_id = sc.applicationId
        sc._dis_app_id = app_id
    memo_key = (app_id, sf_dir, name)
    cached = _TABLE_MEMO.get(memo_key)
    if cached is not None:
        return cached

    # defensive: the harness may hand us a session built without this conf —
    # it is runtime-settable and required to read TIMESTAMP(NANOS) parquet
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # prefer inferring un-annotated parquet timestamps as LTZ at the scan;
    # runtime-settable, best-effort (normalize_timestamps is the backstop)
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    # defensive: normalize_timestamps' NTZ→LTZ cast (and every downstream
    # unix_micros/window comparison vs DuckDB's naive reading) is
    # value-preserving only under a UTC session — a foreign session with a
    # local timezone would shift every event time (ADVICE r4)
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    # defensive: executor workers must be able to import this package even
    # when the driver session/cwd is foreign (see ensure_worker_imports)
    ensure_worker_imports(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df = normalize_timestamps(df)
    _TABLE_MEMO[memo_key] = df
    return df


class Catalog:
    """Named-table catalog over a scale-factor directory.

    ``Catalog(spark, sf_dir)[name]`` returns the lazy DataFrame; tables are
    cached per-name so repeated lookups share one plan subtree.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._tables: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._tables:
            self._tables[name] = load_table(self.spark, self.sf_dir, name)
        return self._tables[name]

    def names(self) -> list[str]:
        return [
            f[: -len(".parquet")]
            for f in sorted(os.listdir(self.sf_dir))
            if f.endswith(".parquet")
        ]


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> Catalog:
    """Register every table as a temp view for ``spark.sql`` (reference S3).

    Unlike the reference's sqldf→SQLite bridge this involves zero data
    movement: the view is a name bound to a lazy plan.
    """
    cat = Catalog(spark, sf_dir)
    for name in tables if tables is not None else cat.names():
        cat[name].createOrReplaceTempView(name)
    return cat
