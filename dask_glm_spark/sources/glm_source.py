"""Ingest: build the universal GLM DataFrame from parquet sources.

The reference consumes row-block-partitioned dask arrays X (n,p) and a
co-chunked y (``dask_glm/algorithms.py:96-97``, ``datasets.py:48-56``); its
docs ingest CSV via ``dd.read_csv(...).values`` (docs/examples/
basic_api.ipynb cells 4-12). Here the universal input is one DataFrame

    (id bigint, f1..fp double, features array<double>, label double, ...)

which stores label and features in the same rows — eliminating the
reference's X/y chunk-alignment hazard by construction.

The `glm` view (FIXTURES.md §A) is derived from the driver's lineitem
table identically in Spark and DuckDB so kernel queries can be
oracle-checked. The ``id`` from ``row_number() OVER (ORDER BY
GLM_ID_ORDER)`` exists for oracle determinism; the solver path never uses
it (a global sort at 100 TB would be wrong — real pipelines carry a
source-provided key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURE_COLS = ["f1", "f2", "f3", "f4"]

# The id's ORDER BY key, extended past (l_orderkey, l_linenumber) with every
# payload column the glm derivation reads: the synthetic lineitem has ~20%
# DUPLICATE (orderkey, linenumber) pairs, so the short key left row_number's
# tie order engine/plan-dependent — the old green-ness silently relied on
# both engines stable-sorting in parquet file order, which a distributed
# TakeOrdered breaks. With the full key, remaining ties are rows identical
# in every derived value, so any tie order is value-deterministic (round 6).
GLM_ID_ORDER = [
    "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag",
]

# SQL text shared verbatim between Spark SQL and the DuckDB oracle
# (FIXTURES.md §A). Keep engine-portable: ANSI expressions only.
GLM_VIEW_SQL = """
SELECT
  CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity,
    l_extendedprice, l_discount, l_tax, l_returnflag) AS BIGINT) AS id,
  l_quantity * 1.0        AS f1,
  l_extendedprice / 1e4   AS f2,
  l_discount * 10.0       AS f3,
  l_tax * 10.0            AS f4,
  CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
  l_quantity * 1.0        AS label_reg,
  CAST(round(l_quantity) AS DOUBLE) AS label_cnt
FROM lineitem
"""


# Columns stored as TIMESTAMP(NANOS) in the testdata parquet. Spark reads
# them as nanos-since-epoch longs (spark.sql.legacy.parquet.nanosAsLong);
# we integer-divide to micros — exactly DuckDB's nanos->micros truncation —
# so timestamp semantics match the oracle.
NANO_TS_COLS = {
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
    "events": ["ts"],
}

# Naive (no-timezone) parquet timestamps read as TIMESTAMP_NTZ under Spark
# 4's inferTimestampNTZ default. DuckDB treats the same bytes as a naive
# timestamp whose epoch extraction assumes UTC, so the oracle-parity
# normalization is naive-wall-clock == UTC instant. timestampdiff between
# two NTZ values is pure wall-clock arithmetic — no session-timezone
# dependence anywhere in the pipeline (verified under America/New_York).
_NTZ_AS_UTC = (
    "timestamp_micros(timestampdiff("
    "MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c}))"
)


def normalize_ntz_as_utc(df: DataFrame) -> DataFrame:
    """Rewrite every TIMESTAMP_NTZ column as the TIMESTAMP instant whose
    UTC rendering equals the naive wall time (DuckDB's reading)."""
    for c, dt in df.dtypes:
        if dt == "timestamp_ntz":
            df = df.withColumn(c, F.expr(_NTZ_AS_UTC.format(c=c)))
    return df


def repair_nano_timestamps(df: DataFrame, nano_cols: list[str]) -> DataFrame:
    """Shared post-read repair for parquet TIMESTAMP(NANOS) columns read
    under ``nanosAsLong``: int64 nanos -> TIMESTAMP micros, then NTZ
    normalization. One definition for ALL readers (batch load_table,
    streaming stream_events, generic ingest.read_parquet) — previously
    each copied the block and a fix could silently miss one (review r5)."""
    for c in nano_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(
                c, F.expr(f"timestamp_micros(CAST({c} DIV 1000 AS BIGINT))")
            )
    return normalize_ntz_as_utc(df)


def nano_ts_columns_of(path: str) -> list[str]:
    """TIMESTAMP(NANOS) column names of a parquet file/directory, read
    from the footer via pyarrow — how a generic reader knows WHICH bigint
    columns are disguised timestamps (the testdata tables use the static
    NANO_TS_COLS map instead)."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        sch = ds.dataset(path, format="parquet").schema
        return [
            f.name
            for f in sch
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception:
        return []


# r14 (guide §6): schema-inference memo. A schema-less
# ``spark.read.parquet`` runs a footer-read job on EVERY call, so the first
# read's inferred schema is replayed via ``.schema(...)`` for later reads
# of the same path — metadata only, row data is always re-read from the
# files. Each path's entry carries a driver-side stamp of its files (see
# ``_path_stamp``) and is replayed only while the stamp still matches, so
# overwriting a path invalidates it with no Spark job; the nanosAsLong
# conf is constant here.
_SCHEMA_MEMO: dict = {}


def _path_stamp(path: str):
    """(relative name, size, mtime_ns) of every file under a local path —
    a file or a dataset directory — from one ``os`` stat each: the same
    listing Spark's file index does on every read, with no Spark job.
    None for a remote URI or a missing path (never memoized)."""
    import os
    from urllib.parse import urlparse

    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    try:
        if not os.path.isdir(local):
            st = os.stat(local)
            return (("", st.st_size, st.st_mtime_ns),)
        stamp = []
        for root, _dirs, files in os.walk(local):
            for f in files:
                full = os.path.join(root, f)
                st = os.stat(full)
                stamp.append(
                    (os.path.relpath(full, local), st.st_size, st.st_mtime_ns)
                )
        return tuple(sorted(stamp))
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet`` with the testdata timestamp repair.

    The inferred schema is memoized per path and replayed on later reads,
    which saves the footer-read job. The memo notices an overwrite: its
    key includes each file's name, size and modification time, read on
    the driver. What it still assumes: a remote (non-``file:``) path has
    no such stamp and is re-inferred on every read, and a rewrite that
    keeps every file's name, size and nanosecond mtime is not seen."""
    # Session-independence (VERDICT r1 #1): the driver supplies its own plain
    # SparkSession, so the nanos handling must be set HERE, at runtime — it is
    # a runtime-settable SQLConf — not only in session.get_spark().  Without
    # it, reading any TIMESTAMP(NANOS) column (events.ts, l_shipdate,
    # o_orderdate) throws PARQUET_TYPE_ILLEGAL.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    stamp = _path_stamp(path)
    memo = _SCHEMA_MEMO.get(path)
    if stamp is not None and memo is not None and memo[0] == stamp:
        df = spark.read.schema(memo[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if stamp is not None:
            _SCHEMA_MEMO[path] = (stamp, df.schema)
    return repair_nano_timestamps(df, NANO_TS_COLS.get(name, []))


def load_glm(spark: SparkSession, sf_dir: str, with_features_array: bool = True) -> DataFrame:
    """The oracle-parity glm table (includes the row_number id)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    df = spark.sql(GLM_VIEW_SQL)
    if with_features_array:
        df = df.withColumn("features", F.array(*[F.col(c) for c in FEATURE_COLS]))
    return df


def load_glm_top(
    spark: SparkSession, sf_dir: str, n: int, with_features_array: bool = True
) -> DataFrame:
    """First ``n`` glm rows (id = 1..n) WITHOUT the full-table
    single-partition row_number sort: a distributed TakeOrdered on the
    value-deterministic GLM_ID_ORDER key pulls the n head rows
    (per-partition top-n heaps, driver merge of k*n candidates), and the
    row_number then runs over just those n. Values are identical to
    ``load_glm(...).orderBy('id').limit(n)`` — pytest-pinned — with the
    plan a 100 TB table needs: the global total order only ever existed
    to ADDRESS the first n rows."""
    top = (
        load_table(spark, sf_dir, "lineitem")
        .orderBy(*GLM_ID_ORDER)
        .limit(int(n))
    )
    view = "lineitem_glm_top"
    top.createOrReplaceTempView(view)
    df = spark.sql(GLM_VIEW_SQL.replace("FROM lineitem", f"FROM {view}"))
    if with_features_array:
        df = df.withColumn("features", F.array(*[F.col(c) for c in FEATURE_COLS]))
    return df


def load_glm_fast(spark: SparkSession, sf_dir: str, label_col: str = "label") -> DataFrame:
    """Solver-path variant: no global row_number sort, no unused columns.

    Column pruning reaches the parquet scan (only the 5-6 source columns are
    read); at 100 TB this is a pure narrow map over the scan — zero shuffles.
    """
    li = load_table(spark, sf_dir, "lineitem")
    label_expr = {
        "label": F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0),
        "label_reg": F.col("l_quantity") * 1.0,
        "label_cnt": F.round(F.col("l_quantity")).cast("double"),
    }[label_col]
    return li.select(
        F.array(
            F.col("l_quantity") * 1.0,
            F.col("l_extendedprice") / 1e4,
            F.col("l_discount") * 10.0,
            F.col("l_tax") * 10.0,
        ).alias("features"),
        label_expr.alias("label"),
    )
