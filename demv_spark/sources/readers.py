"""Source readers — SURVEY.md §2.1 (S1–S5).

The reference reads CSV/Excel with pandas (getdataset.py); the engine
reads parquet/CSV with the Spark readers, plus one wrinkle the
testdata exposes: parquet INT64 TIMESTAMP(NANOS) columns, which
Spark's vectorized reader rejects outright. ``read_table`` flips the
``nanosAsLong`` legacy conf and rebuilds a micros-precision timestamp
column — semantics identical to DuckDB's native TIMESTAMP_NS read at
any sub-second precision coarser than nanos.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType


def read_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """Read one testdata table, normalizing ns-timestamps to
    TimestampType (micros). Safe for any table; only acts when a
    column actually arrives as raw nanos.

    ``spread``: a single small parquet file arrives as ONE input
    split, which serializes every downstream map stage onto one core
    (31 of 32 idle). Production inputs at scale have thousands of
    splits, so the single-split case is the local-test anomaly —
    round-robin repartition to the session's parallelism when the
    scan is under-split."""
    path = f"{sf_dir}/{name}.parquet"
    import os as _os

    try:
        st = _os.stat(path)
        key = (id(spark), _os.path.abspath(path), st.st_mtime, st.st_size, spread)
    except OSError:
        key = None
    if key is not None:
        hit = _PLAN_CACHE.get(key)
        # the stored session ref guards against id() reuse after GC
        if hit is not None and hit[0] is spark:
            return hit[1]
    # INT64 TIMESTAMP(NANOS,…) columns are rejected by the vectorized
    # reader; surfacing them as raw longs up-front avoids a failed
    # first read (which costs a whole schema-inference job). Tables
    # without nanos columns are unaffected by this conf.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # rebuild as TIMESTAMP_NTZ: integer division keeps exact
        # micros, and the NTZ epoch base makes the value independent
        # of the session timezone (timestamp_micros would produce an
        # instant that renders differently under a non-UTC session —
        # the other tables' ms timestamps already arrive as NTZ via
        # parquet inferTimestampNTZ)
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    if spread:
        target = spark.sparkContext.defaultParallelism
        if _est_scan_splits(spark, path, target) < min(target, 8):
            df = df.repartition(_spread_target(path, target))
    if key is not None:
        if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
            # bound the memo (ADVICE r12): drop other sessions' entries
            # first (dead sessions would otherwise pin their JVM-side
            # plans forever), then fall back to a full reset
            stale = [k for k, v in _PLAN_CACHE.items() if v[0] is not spark]
            for k in stale:
                _PLAN_CACHE.pop(k, None)
            if len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
                _PLAN_CACHE.clear()
        _PLAN_CACHE[key] = (spark, df)
    return df


# Lazy-PLAN cache: (session, abs path, mtime, size, spread) -> the
# unevaluated reader DataFrame. A DataFrame is an immutable logical
# plan — NO rows live here; every action on it re-scans the parquet
# data in full, so repeated bench/oracle invocations still compute
# from the inputs. What the memo removes is per-CALL driver work that
# is identical every time: relation construction + footer schema
# resolution (~90 ms) and the split-count probe (~60 ms when it was
# df.rdd-based), paid once per table per query per bench rep before
# this cache. The mtime+size key invalidates on any rewrite of the
# path (scratch round-trip tables); the session ref in the value
# keeps one session's plans from leaking into a successor with a
# recycled id().
_PLAN_CACHE: dict[tuple, tuple[SparkSession, DataFrame]] = {}
# soft cap on memo entries (10 tables x a generous session/mtime churn
# allowance); eviction prefers other sessions' entries — see read_table
_PLAN_CACHE_MAX = 256


# on-disk parquet bytes per partition of the under-split spread
# repartition (see _spread_target)
SPREAD_SPLIT_BYTES = 262144


def _spread_target(path: str, parallelism: int) -> int:
    """Partition count for the under-split spread repartition,
    derived from the INPUT SIZE instead of pinned to the core count
    (guide §2: a constant tuned for either local mode or the cluster
    is wrong at the other scale). Spreading a sub-megabyte table 32
    ways buys nothing downstream — every stage pays 32 task launches
    and a 32-block shuffle for a few thousand rows — and it is why
    tiny-table queries ran FASTER at 8 cores than 32 (the 8-core run
    repartitioned to 8). One partition per ``SPREAD_SPLIT_BYTES`` of
    on-disk parquet (256 KiB ≈ a few thousand text rows — the best of
    an interleaved 0/128K/256K/512K sweep over 12 affected queries,
    39.9→25.1 s), clamped to [2, parallelism]. Production-scale
    inputs have enough natural splits that the spread never fires."""
    import math
    import os as _os

    size = 0
    try:
        if _os.path.isdir(path):
            for root, _dirs, fs in _os.walk(path):
                for f in fs:
                    if f.startswith(("_", ".")) or f.endswith(".crc"):
                        continue
                    size += _os.path.getsize(_os.path.join(root, f))
        else:
            size = _os.path.getsize(path)
    except OSError:
        return parallelism
    return max(
        min(2, parallelism), min(parallelism, math.ceil(size / SPREAD_SPLIT_BYTES))
    )


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Spark byte-string conf value as an int — handles the k/m/g/t
    suffix forms ('128m', '1g', '134217728b') the previous trailing-'b'
    strip silently turned into the default (ADVICE r12)."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    mult = 1
    for suf, m in (
        ("tb", 1024**4), ("gb", 1024**3), ("mb", 1024**2), ("kb", 1024),
        ("t", 1024**4), ("g", 1024**3), ("m", 1024**2), ("k", 1024),
        ("b", 1),
    ):
        if raw.endswith(suf):
            mult = m
            raw = raw[: -len(suf)]
            break
    try:
        return int(raw) * mult
    except ValueError:
        return default


def _est_scan_splits(spark: SparkSession, path: str, parallelism: int) -> int:
    """Estimate the scan's split count from the FILES, not the plan:
    Spark's FilePartition.maxSplitBytes rule, ``maxSplit =
    min(maxPartitionBytes, max(openCost, (bytes + nFiles*openCost) /
    parallelism))`` and ``ceil(size / maxSplit)`` splits a file, redone
    on os.stat data in ~0.1 ms (``df.rdd.getNumPartitions()`` costs a
    ~60 ms py4j round trip). Many-tiny-file dirs (packing merges those)
    are over-counted, which skips the spread only with >= 8 data files.

    Splits are not reading tasks: parquet cannot split a row group, so
    only the split holding a row group's midpoint reads it. A 21.6 MB
    file of 2 row groups counts 4 splits at parallelism 4 and gets no
    spread, yet only 2 of its 4 scan tasks read rows. Spreading it anyway
    measured slower (1.50 vs 1.41 s DEMV fit + transform + write)."""
    import math
    import os as _os

    max_part = _conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 134217728
    )
    open_cost = _conf_bytes(
        spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
    )
    sizes = []
    if _os.path.isdir(path):
        for root, _dirs, fs in _os.walk(path):
            for f in fs:
                if f.startswith(("_", ".")) or f.endswith(".crc"):
                    continue
                sizes.append(_os.path.getsize(_os.path.join(root, f)))
    elif _os.path.exists(path):
        sizes.append(_os.path.getsize(path))
    if not sizes:
        return 1
    total = sum(sizes) + len(sizes) * open_cost
    max_split = min(max_part, max(open_cost, total // max(parallelism, 1)))
    return sum(max(1, math.ceil(s / max_split)) for s in sizes)


def read_csv_noheader(
    spark: SparkSession, path: str, names: Sequence[str], **options
) -> DataFrame:
    """S1 — headerless CSV with explicit column names
    (getdataset.py:16)."""
    df = spark.read.csv(path, header=False, inferSchema=True, **options)
    return df.toDF(*names)


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    """S2 — header CSV with schema inference (getdataset.py:128,282,
    327). Loaders that read with ``index_col=0`` drop the first column
    themselves (sources/recipes.py)."""
    return spark.read.csv(path, header=True, inferSchema=True, **options)


def read_csv_semicolon(spark: SparkSession, path: str, **options) -> DataFrame:
    """S3 — ';'-delimited CSV (wine loader, getdataset.py:495-497)."""
    return spark.read.csv(path, header=True, inferSchema=True, sep=";", **options)


def read_excel(
    spark: SparkSession, path: str, na_values: Sequence[str] = ("?",)
) -> DataFrame:
    """S4 — Excel scan with NA sentinel (crime loader,
    getdataset.py:167). Spark has no native Excel source; Excel inputs
    are config-scale (one ~2k-row workbook), never data-scale, so the
    parse happens driver-side and promotes to a DataFrame. The pandas
    engine is used when installed; otherwise the zero-dep SpreadsheetML
    parser (sources/xlsx.py — stdlib zipfile + ElementTree) reads the
    workbook natively, so S4 works in any environment."""
    try:
        import pandas as pd

        return spark.createDataFrame(pd.read_excel(path, na_values=list(na_values)))
    except ImportError:  # openpyxl/xlrd missing → stdlib parser
        pass
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from demv_spark.sources.xlsx import read_excel_table

    header, data = read_excel_table(path, na_values=na_values)
    # pandas-like per-column promotion: bool < int < float < string
    fields, converters = [], []
    for ci, name in enumerate(header):
        vals = [row[ci] for row in data if row[ci] is not None]
        if vals and all(isinstance(v, bool) for v in vals):
            t, conv = BooleanType(), bool
        elif vals and all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
            t, conv = LongType(), int
        elif vals and all(
            isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
        ):
            t, conv = DoubleType(), float
        else:
            t, conv = StringType(), str
        fields.append(StructField(name, t, True))
        converters.append(conv)
    typed = [
        tuple(None if v is None else conv(v) for v, conv in zip(row, converters))
        for row in data
    ]
    return spark.createDataFrame(typed, StructType(fields))


def config_lookup(
    spark: SparkSession, config_path: str, key_col: str, key, value_col: str, **csv_options
) -> list:
    """S5 — tiny config-table lookup (utils.py:384-405 get_items: a
    sensitive-features config CSV keyed by dataset name). Config
    tables are ~10 rows: read once, filter driver-side. Returns the
    matching values as a Python list."""
    cfg = spark.read.csv(config_path, header=True, inferSchema=True, **csv_options)
    rows = cfg.filter(cfg[key_col] == key).select(value_col).collect()
    return [r[value_col] for r in rows]


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Export as JSON Lines — the universal corpus interchange format
    (one JSON object per line; what crawl dumps, annotation tools and
    tokenizer pipelines exchange). Plain ``df.write.json``: Spark's
    writer emits JSONL natively, one file per partition — pair with
    ``sinks.write_corpus``-style repartitioning upstream when file
    sizing matters."""
    df.write.mode(mode).json(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema=None,
    corrupt_col: str = "_corrupt_record",
):
    """Read JSON Lines with an explicit malformed-line contract: in
    the default PERMISSIVE mode a syntactically-broken line becomes a
    row whose ``corrupt_col`` holds the raw line (all other fields
    NULL) instead of failing the job — at crawl scale some fraction
    of lines is ALWAYS broken, and FAILFAST would turn one bad byte
    into a dead 100 TB read. Callers filter/quarantine on
    ``corrupt_col IS NOT NULL``.

    Pass ``schema`` in production: schema inference is an extra full
    pass over the data AND silently widens types from whatever it
    happened to see. The corrupt column must be part of the schema
    for PERMISSIVE capture, so it is appended automatically.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", corrupt_col
    )
    if schema is not None:
        if isinstance(schema, str):  # DDL string → StructType
            schema = StructType.fromDDL(schema)
        if corrupt_col not in schema.names:
            schema = StructType(
                list(schema.fields) + [StructField(corrupt_col, StringType(), True)]
            )
        reader = reader.schema(schema)
    out = reader.json(path)
    # the inferred-schema path only grows a corrupt column when the
    # inference pass actually SAW a broken line — on a clean file the
    # documented `corrupt_col IS NOT NULL` filter would fail to
    # resolve; materialize it as all-NULL so the contract holds
    # unconditionally
    if corrupt_col not in out.columns:
        import pyspark.sql.functions as F

        out = out.withColumn(corrupt_col, F.lit(None).cast("string"))
    return out
