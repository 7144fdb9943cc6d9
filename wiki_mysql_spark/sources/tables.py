"""Table catalog over the driver-generated parquet fixtures.

Replaces the reference's fixed two-table MySQL schema
(``/root/reference/sql/init.sql:1-19``) with a parquet-backed catalog: schemas
travel with the files, scans are columnar, and filters/projections push down
into the parquet reader (verify with ``df.explain()`` -> ``PushedFilters``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wiki_mysql_spark.session import configure

TABLE_NAMES = [
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
]

# Dimension tables whose size is bounded (constant or near-constant cardinality
# at any scale factor). These are always safe to broadcast-join: at 100 TB
# nation is still 25 rows. Everything else must be left to AQE / size stats.
BROADCAST_SAFE = {"region", "nation"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-canonical column types.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's reader
    rejects outright ([PARQUET_TYPE_ILLEGAL]); with
    ``spark.sql.legacy.parquet.nanosAsLong`` we read epoch nanoseconds as a
    long and truncate to microseconds — bit-identical to how DuckDB casts the
    same column to its microsecond TIMESTAMP.
    """
    configure(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


# Leaf sizes at or above this are treated as UNKNOWN, not big. Catalyst's
# default sizeInBytes is 2^63-1, but the default does not arrive verbatim:
# projections SCALE it by column-width ratios (a pruning Project over an
# unknown leaf reports e.g. 0.75 * 2^63) and an eager localCheckpoint
# copies those garbage-but-finite numbers into the LogicalRDD's stats —
# measured: the 9-row wiki-fixture redirect edges reported 6.9e18 bytes
# after checkpointing, which an exact-default test read as a REAL size and
# sent every small-input gate down its distributed path (and dense_ids'
# storage gate to DISK_ONLY). 1 PiB per leaf is comfortably above any real
# single-leaf relation here while catching every propagated-default value;
# a genuinely >=1 PiB leaf is merely re-classified unknown, and the gates'
# bounded probes (row-capped) still answer correctly for it.
_STATS_UNKNOWN = 1 << 50

# Row cap of the bounded probes below: a probe job materializes at most
# this many rows plus one.
PROBE_ROWS = 100_000


def arrow_table(data, schema):
    """``data`` as a ``pyarrow.Table`` of ``schema``: a table passes
    through as it is; an iterable of row tuples in ``schema`` order is
    converted column by column to the Arrow types of ``schema`` (a
    ``StructType`` or a DDL string), names and nullability included. The
    one row→Arrow conversion for driver-side data, shared by
    :func:`local_frame` and the driver-written wiki tables."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(data, pa.Table):
        return data
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*data)) or [()] * len(arrow_schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def local_frame(spark: SparkSession, data, schema) -> DataFrame:
    """A DataFrame over driver-side data, always built through Arrow.

    ``data`` is a ``pyarrow.Table`` or an iterable of row tuples in
    ``schema`` order (converted by :func:`arrow_table`); ``schema`` is a
    ``StructType`` or a DDL string, and the frame carries it as given
    (names, types, nullability). The rows travel inside the plan as a
    ``LocalRelation`` (``LocalTableScan``), so no consumer starts a Python
    worker. ``spark.createDataFrame`` over Python rows is instead an RDD
    scan (``applySchemaToPythonRDD``): every job that reads it runs a
    Python worker stage. Every engine frame built from driver data goes
    through here.

    The relation's plan statistics are ESTIMATED, not measured: Catalyst
    sizes a ``LocalRelation`` as rows x (8 + each type's default size),
    i.e. 20 bytes per string and one element per array. Because every leaf
    then reports a size, :func:`is_small_input` decides on that estimate
    and never runs its ``byte_probe``. A frame of wide strings or arrays
    can therefore look smaller than it is: a byte-gated fast path that
    consumes one must bound its real width some other way (today's callers
    hold longs only, or a mapping already admitted by a byte-probed gate).
    """
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(data, schema), schema=schema)


def is_rdd_backed(df: DataFrame) -> bool:
    """True when the frame's whole plan is a (local)checkpointed /
    RDD-backed leaf (LogicalRDD) — i.e. it is already materialized (or
    marked for one-shot materialization) and a further localCheckpoint
    would only duplicate the full frame in the block manager."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return plan.getClass().getSimpleName() == "LogicalRDD"
    except Exception:
        return False


def leaf_bytes(df: DataFrame) -> tuple[int | None, bool]:
    """(sum of KNOWN leaf sizes, any-leaf-unknown) from optimizer stats —
    free, no job. ``(None, True)`` when the plan can't be inspected."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total, unknown = 0, False
        for i in range(leaves.length()):
            s = int(leaves.apply(i).stats().sizeInBytes())
            if s >= _STATS_UNKNOWN:
                unknown = True
            else:
                total += s
        return total, unknown
    except Exception:
        return None, True


def is_small_input(
    df: DataFrame, *, max_bytes: int, max_rows: int = PROBE_ROWS,
    byte_probe: bool = False,
) -> bool:
    """Decide whether a frame is small enough for a single-task fast path.

    Two tiers, cheapest first: (1) sum the LEAF relations' size statistics —
    free, no job — and decide on bytes when every leaf reports a real size
    (parquet scans always do, so the 100 TB case never leaves this tier);
    (2) for unknown-stats leaves (RDD-backed frames, python createDataFrame),
    probe with a row-LIMITed count — a job whose LIMIT lets the optimizer
    prune every column, so expensive upstream projections (e.g. the wiki
    regex-cleaning chain) are never evaluated for the probe.

    ``byte_probe=True`` adds a second, 1k-row sampled byte estimate so a
    narrow-count frame of very wide rows can't be declared small on row
    count alone. It is opt-in because the sample CANNOT be column-pruned —
    it materializes full rows, re-running the upstream DAG (measured ~2x
    the whole wiki_articles_bodies entry when enabled on its gates); use it
    for gates that feed driver-side collects of frames whose row width is
    unbounded by construction, and ``localCheckpoint`` the frame FIRST so
    the probe reads materialized blocks (the pattern in resolve_redirects
    and dense_ids). The byte probe sums real widths over ALL rows up to the
    row cap (not a prefix sample), so it is a bound over the admitted rows,
    not an extrapolation. Used by dense_ids and resolve_redirects the
    way joins use a broadcast threshold: the data picks the physical
    strategy, semantics are identical either way.
    """
    total, unknown = leaf_bytes(df)
    if total is None:
        return False
    if total >= max_bytes:
        return False
    if not unknown:
        return True
    if not byte_probe:
        n = int(
            df.limit(max_rows + 1)
            .select(F.count(F.lit(1)).alias("_n"))
            .collect()[0]["_n"]
        )
        return n <= max_rows
    # Safety-critical byte gate: sum real widths over ALL rows up to the
    # row cap. No sampling/extrapolation: a frame whose wide rows sit past
    # any prefix sample can no longer sneak under the gate.
    n, size = probe_size(df, max_rows)
    return n <= max_rows and size < max_bytes


def probe_size(df: DataFrame, max_rows: int = PROBE_ROWS) -> tuple[int, int]:
    """``(rows, bytes)`` over the first ``max_rows + 1`` rows of ``df``:
    one bounded job (the limit caps materialization at ``max_rows + 1``
    rows), bytes summed with :func:`_row_bytes_estimate`. ``rows >
    max_rows`` means the frame holds more rows than were measured. The
    probe cannot be column-pruned, so run it on a materialized frame."""
    probe = df.limit(max_rows + 1).select(
        F.count(F.lit(1)).alias("_n"),
        F.coalesce(F.sum(_row_bytes_estimate(df)), F.lit(0)).alias("_bytes"),
    ).collect()[0]
    return int(probe["_n"]), int(probe["_bytes"])


def jvm_max_heap(spark: SparkSession) -> int:
    """The driver JVM's max heap (local mode: the only JVM); 8 GiB when it
    cannot be read (e.g. Spark Connect)."""
    try:
        return int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    except Exception:
        return 8 << 30


def _row_bytes_estimate(df: DataFrame) -> "F.Column":
    """Cheap per-row byte estimate for the unknown-stats probe: real octet
    lengths for string/binary columns (where all the width variance lives),
    a flat 16 bytes for fixed-width scalars, 16/element for containers."""
    parts = []
    for name, dtype in df.dtypes:
        c = F.col(name)
        if dtype in ("string", "binary"):
            parts.append(F.coalesce(F.octet_length(c), F.lit(0)))
        elif dtype.startswith(("array", "map")):
            parts.append(F.coalesce(F.size(c), F.lit(0)) * 16)
        else:
            parts.append(F.lit(16))
    expr = parts[0]
    for p in parts[1:]:
        expr = expr + p
    return expr


def spread_small_scan(
    df: DataFrame, *, min_factor: int = 2, min_bytes: int = 4 << 20,
    heavy_rows: bool = False,
) -> DataFrame:
    """Spread a narrow-but-LARGE scan across the cluster before CPU-heavy
    per-row work.

    The pathology this fixes: one big unsplittable file (a 1 GB .bz2 dump, a
    single-row-group parquet) arrives as one scan partition, so per-row regex
    / higher-order-function / Arrow work runs on one core while the rest
    idle. The fix is a round-robin repartition — but ONLY when the single
    partition is actually big: measured head-to-head at fixture scale
    (≤1 MB scans), the added shuffle is a consistent net LOSS because the
    per-row work finishes faster than the exchange. So the gate is
    bytes-first (plan statistics — free, no job), partition-count second
    (the `.rdd` probe is safe on freshly-scanned frames with no upstream
    shuffle). At real scale an input is thousands of files and this is a
    no-op either way.

    The gate sits at 4 MB — well above the measured loss region (≤1 MB)
    but low enough that compression hides nothing: a 10 MB .bz2 text scan
    is ~100 MB of decompressed regex work, and plan stats see only a
    modest multiple of the FILE size (measured: a 10.8 MB bz2 dump's
    projected scan reports ~31 MB, which a 32 MB gate let serialize onto
    3 of 32 cores — 17 s of markup cleaning per downstream pass).

    ``heavy_rows=True`` bypasses the byte gate: for CODEC-class work
    (image/video encode+decode, milliseconds per row, not microseconds)
    the per-row cost dwarfs any exchange of a small scan, so the frame is
    always spread — leaving a 1.5 MB / 5,000-doc scan on one partition
    put ~17 s of per-row Python on a single core while 31 sat idle
    (measured on the video entry; spreading cut it ~10x).
    """
    spark = df.sparkSession
    if not heavy_rows:
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            return df  # no plan-stats handle (e.g. Spark Connect): no change
        if size < min_bytes:
            return df
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * min_factor < target:
        return df.repartition(target)
    return df


def map_in_pandas_spread(df: DataFrame, fn, schema) -> DataFrame:
    """``mapInPandas`` with heavy-row spreading BUILT IN.

    Crossing into Python is the operator-class signal that per-row cost is
    milliseconds, not microseconds — so the byte gate that protects cheap
    regex work from a pointless exchange is bypassed unconditionally
    (``heavy_rows``). The r4 codec single-core bug (17 s of per-row codec
    work on 1 of 32 cores, because a 1.5 MB scan stayed on one partition)
    existed precisely because the spreading flag was manual and a call site
    forgot it; routing every Arrow-mapped stage through this wrapper makes
    the spreading automatic for the whole operator class. Use this instead
    of calling ``.mapInPandas`` directly on a possibly-narrow frame."""
    return spread_small_scan(df, heavy_rows=True).mapInPandas(fn, schema)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for spark.sql queries)."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
