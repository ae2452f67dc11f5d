"""Parquet table source (batch analog of the Kafka topic scan, SURVEY §2 S1).

Reads are plain ``spark.read.parquet`` so Catalyst gets the native parquet
scan: column pruning + predicate pushdown reach the file footer
(verify with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).

Schema inference is a Spark job per read (the parquet footer merge, about
0.1 s even on a 10k-row table), so ``load_table`` infers a table's schema
once per process and reads with it as long as the table's files are
unchanged: one entry per path, keyed on the file stamp (name, size,
``mtime_ns`` of every data file). A regenerated table has a new stamp and
is re-inferred, replacing its entry, so the memo never grows past one
entry per table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logflow.model import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: columns that were stored as TIMESTAMP(NANOS) in round-1 testdata; read
#: as long (spark.sql.legacy.parquet.nanosAsLong) and truncated to µs here —
#: integer `div 1000`, the same conversion DuckDB applies (verified).
#: Round-2 testdata regenerated events.ts as TIMESTAMP(MICROS, ntz), which
#: Spark reads natively as timestamp_ntz — the LongType branch below is
#: then a no-op, so both layouts stay readable.
_NANO_TS_COLS = {"events": ["ts"]}

#: path → (file stamp, inferred schema) of every table loaded in this process
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def file_stamp(path: str) -> tuple[tuple[str, int, int], ...]:
    """(name, size, mtime_ns) of each data file of a parquet table, sorted.

    ``path`` is one file or a directory of part files; ``_``- and
    ``.``-prefixed entries (``_SUCCESS``, ``.crc`` sidecars, markers) are
    skipped, as Spark's file listing skips them. A path that is not on the
    local filesystem has the empty stamp.
    """
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if not f.startswith((".", "_"))
        )
    else:
        return ()
    stats = [(os.path.basename(f), os.stat(f)) for f in files]
    return tuple((name, st.st_size, st.st_mtime_ns) for name, st in stats)


def load_table(
    spark: SparkSession, name: str, sf_dir: str | None = None, parallelize: bool = True
) -> DataFrame:
    """Load one driver-provided table (TESTDATA.md) as a DataFrame.

    ``parallelize``: the testdata files are single-row-group parquet, so the
    scan yields ONE input split no matter how many cores exist — every
    downstream map-side stage (md5 storms, fold expressions, BNL joins)
    would run on one task.  When the scan's natural split count is below
    the session's default parallelism we add a round-robin repartition;
    filters/pruning still reach the scan (Catalyst pushes predicates
    through Repartition), and on a real multi-file 100 TB table the scan
    already has more splits than cores, making this a no-op.
    """
    # The driver may hand us a vanilla SparkSession (no logflow.session
    # factory): make the TIMESTAMP(NANOS) parquet readable regardless.
    # nanosAsLong is a runtime-settable SQLConf, so this is safe per-read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir or DEFAULT_SF_DIR, f"{name}.parquet")
    stamp = file_stamp(path)
    known = _SCHEMAS.get(path)
    if stamp and known is not None and known[0] == stamp:
        schema = known[1]
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        _SCHEMAS[path] = (stamp, schema)
    for col in _NANO_TS_COLS.get(name, []):
        if isinstance(schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if parallelize:
        target = spark.sparkContext.defaultParallelism
        if _scan_splits(spark, stamp) < max(target // 2, 1):
            df = df.repartition(target)
    return df


def _scan_splits(spark: SparkSession, stamp: tuple) -> int:
    """Estimate the parquet scan's input-split count from the file sizes
    in the table's stamp — the same ceil(bytes / maxPartitionBytes)
    FilePartition planning uses — instead of df.rdd.getNumPartitions(),
    which forces a full DataFrame→RDD plan conversion per table load.
    Non-local paths (empty stamp) count as 'many splits' (no rebalance),
    which is the truth on any real multi-file 100 TB table."""
    if not stamp:
        return 1 << 30
    sizes = [size for _, size, _ in stamp]
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b").strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    try:
        if raw[-1] == "b" and raw[-2:-1] in units:  # "128mb"
            max_bytes = int(raw[:-2]) * units[raw[-2]]
        elif raw[-1] in units:  # "128m"
            max_bytes = int(raw[:-1]) * units[raw[-1]]
        else:  # "134217728" or "134217728b"
            max_bytes = int(raw.rstrip("b"))
    except (ValueError, IndexError):
        max_bytes = 128 << 20
    return sum(max(1, -(-s // max_bytes)) for s in sizes)


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
