"""Sources and storage utilities.

Spark-native re-expression of the reference's load / optimize modules
(reference: pd_utils/load.py, pd_utils/optimize/).

Parquet files are read through :func:`read_parquet`, which infers a
file's schema once and re-infers only when the file or one of the
session confs that shape inference changes; directories and globs are
inferred on every read.
"""

from __future__ import annotations

import os
import stat
import threading
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Session confs that change the schema parquet inference returns; their
#: values are part of :func:`read_parquet`'s memo key.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)
_SCHEMA_MEMO_SIZE = 256
_SCHEMA_MEMO: dict[tuple, StructType] = {}
_SCHEMA_MEMO_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job on
    a repeat read. Inference is a Spark job (one task reading the
    footer) on every ``spark.read.parquet`` call; for a regular local
    file the inferred schema is remembered under the file's identity
    (absolute path, size, ``st_mtime_ns``, inode) plus the values of
    ``_PARQUET_INFERENCE_CONFS``, and a repeat read passes it to
    ``spark.read.schema``. Rewriting or replacing the file, or changing
    one of those confs, re-infers. Directories, globs and non-local
    URIs are not memoized: they are inferred on every read."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
        st.st_ino,
        *(spark.conf.get(c) for c in _PARQUET_INFERENCE_CONFS),
    )
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    schema = df.schema
    with _SCHEMA_MEMO_LOCK:  # the eviction is check-then-act
        if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_SIZE:
            _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
        _SCHEMA_MEMO[key] = schema
    return df


_EXT_READERS = {
    ".csv": lambda spark, path, **kw: spark.read.csv(
        path, header=kw.pop("header", True), inferSchema=kw.pop("inferSchema", True), **kw
    ),
    ".parquet": lambda spark, path, **kw: read_parquet(spark, path),
    ".json": lambda spark, path, **kw: spark.read.json(path, **kw),
    ".orc": lambda spark, path, **kw: spark.read.orc(path),
    ".tsv": lambda spark, path, **kw: spark.read.csv(
        path, sep="\t", header=kw.pop("header", True), inferSchema=kw.pop("inferSchema", True), **kw
    ),
    ".txt": lambda spark, path, **kw: spark.read.text(path, **kw),
    ".jsonl": lambda spark, path, **kw: spark.read.json(path, **kw),
}

#: transparent-compression suffixes: Spark's text-based readers
#: decompress these per file, so dispatch keys on the inner extension
_COMPRESSION_SUFFIXES = (".gz", ".bz2", ".zst", ".lz4", ".deflate", ".snappy")


def read_file(spark: SparkSession, filepath: str, **kwargs) -> DataFrame:
    """Extension-dispatched loader (reference:
    pd_utils/optimize/load/__init__.py:6-22 — CSV only there; parquet /
    json / jsonl / orc / tsv / txt added as the natural Spark surface).
    Compressed text files (``.csv.gz``, ``.jsonl.zst``, ...) dispatch
    on the inner extension — Spark's readers decompress transparently."""
    name = filepath.lower()
    for suffix in _COMPRESSION_SUFFIXES:
        if name.endswith(suffix):
            name = name[: -len(suffix)]
            break
    ext = os.path.splitext(name)[1]
    if ext not in _EXT_READERS:
        raise NotImplementedError(f"no reader registered for extension {ext!r}")
    return _EXT_READERS[ext](spark, filepath, **kwargs)


def load_sas(
    spark: SparkSession, filepath: str, csv: bool = True, cache_dir: Optional[str] = None
) -> DataFrame:
    """SAS sas7bdat loader with a write-through parquet cache
    (reference: pd_utils/load.py:7-42 — there a CSV cache, invalidated
    by mtime; parquet is the Spark-era equivalent, ~columnar + typed).

    The sas7bdat read itself needs either the ``spark-sas7bdat``
    datasource on the classpath or pandas' ``read_sas`` for a one-time
    driver-side conversion of modest files. Neither ships in this
    environment, so the cold path raises unless a cache already exists.
    """
    cache_path = (cache_dir or os.path.dirname(filepath)) + "/" + (
        os.path.splitext(os.path.basename(filepath))[0] + ".parquet"
    )
    if csv and os.path.exists(cache_path) and os.path.getmtime(cache_path) >= os.path.getmtime(
        filepath
    ):
        return spark.read.parquet(cache_path)
    try:
        import pandas as pd

        pdf = pd.read_sas(filepath, encoding="utf-8")
    except UnicodeDecodeError:
        import pandas as pd

        pdf = pd.read_sas(filepath, encoding="cp1252")
    sdf = spark.createDataFrame(pdf)
    if csv:
        sdf.write.mode("overwrite").parquet(cache_path)
        return spark.read.parquet(cache_path)
    return sdf


def optimized_df(df: DataFrame) -> DataFrame:
    """Narrow numeric storage types where LOSSLESS: bigint -> int only
    when every value fits, double -> float only when every value
    round-trips exactly (reference: pd_utils/optimize/dftypes.py:7-36,
    whose pandas ``downcast`` checks the same; object->category there
    is parquet dictionary encoding here). One aggregation pass checks
    all candidate columns at once; columns that would lose data keep
    their type."""
    int_cols = [n for n, t in df.dtypes if t == "bigint"]
    dbl_cols = [n for n, t in df.dtypes if t == "double"]
    if not int_cols and not dbl_cols:
        return df

    checks = []
    for c in int_cols:
        checks.append(F.min(c).alias(f"__min_{c}__"))
        checks.append(F.max(c).alias(f"__max_{c}__"))
    for c in dbl_cols:
        # exact float32 round-trip: max absolute representation error
        checks.append(
            F.max(
                F.abs(F.col(c) - F.col(c).cast("float").cast("double"))
            ).alias(f"__err_{c}__")
        )
    row = df.agg(*checks).collect()[0]

    out = df
    for c in int_cols:
        lo, hi = row[f"__min_{c}__"], row[f"__max_{c}__"]
        if lo is not None and -(2**31) <= lo and hi <= 2**31 - 1:
            out = out.withColumn(c, F.col(c).cast("int"))
    for c in dbl_cols:
        if row[f"__err_{c}__"] is None or row[f"__err_{c}__"] == 0.0:
            out = out.withColumn(c, F.col(c).cast("float"))
    return out


def df_types_dict(df: DataFrame, remove_dates: bool = True) -> dict:
    """Schema introspection -> {column: dtype string}, optionally
    excluding date/timestamp columns (reference:
    pd_utils/optimize/dftypes.py:39-52)."""
    out = {}
    for name, dtype in df.dtypes:
        if remove_dates and dtype in ("date", "timestamp", "timestamp_ntz"):
            continue
        out[name] = dtype
    return out


def to_copy_paste(df: DataFrame, index: bool = False, column_names: bool = True, limit: int = 1000) -> str:
    """Print/return a DataFrame as a ``pd.DataFrame(...)`` constructor
    literal for test authoring (reference: pd_utils/testing.py:4-28).
    Dev tool: collects up to ``limit`` rows."""
    rows = df.limit(limit).collect()
    lines = ["pd.DataFrame(data = ["]
    for r in rows:
        lines.append(f"    {tuple(r)},")
    lines.append("]")
    if column_names:
        lines.append(",columns = " + repr(list(df.columns)))
    lines.append(")")
    out = "\n".join(lines)
    print(out)
    return out
