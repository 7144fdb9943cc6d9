"""Dense surrogate-id assignment (SURVEY.md A1).

The reference leans on MySQL ``AUTO_INCREMENT`` + ``cursor.lastrowid``
(``/root/reference/database.py:67-83``, ``sql/init.sql:6,12``) — ids are
insertion-ordered, i.e. dump-ordered. Spark has no auto-increment, and
``lastrowid`` round-trips are antithetical to batch writes, so ids are
assigned up front, deterministically, ordered by an explicit key.

Scale design: a ``row_number()`` over a global (unpartitioned) window funnels
everything through one task; an RDD ``zipWithIndex`` round-trips rows through
Python. Instead:

  1. range-partition + sort-within-partitions on the order key (parallel
     global sort),
  2. tag rows with ``monotonically_increasing_id`` — documented layout:
     partition id in the upper 31 bits, a dense per-partition counter in the
     lower 33 — and extract the within-partition index JVM-side,
  3. one tiny aggregate collects per-partition counts; cumulative offsets go
     back in as a broadcast join.

Everything heavy stays in whole-stage codegen; the only driver data is one
row per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOW33 = (1 << 33) - 1

# Above this fraction of the JVM heap (by leaf-stats estimate), the layout
# checkpoint inside dense_ids stores DISK_ONLY instead of the default
# deserialized memory level — see the comment at the checkpoint site.
_DISK_LEVEL_HEAP_FRACTION = 0.15


# Inputs whose optimizer-estimated size is below this skip the range
# exchange entirely (see fast path in dense_ids). Generous on purpose:
# a single-partition sort of 64 MB is milliseconds, while the range path
# costs a boundary-sampling job + a shuffle + a counts collect.
_SMALL_SORT_BYTES = 64 << 20


def dense_ids(
    df: DataFrame,
    order_by: list[str | Column],
    *,
    id_col: str = "id",
    start: int = 1,
) -> DataFrame:
    """Add a dense, deterministic ``start``-based id column ordered by
    ``order_by`` (which must be a total order — include a unique tiebreaker,
    or ids within ties become partition-placement-dependent).

    The frame is sized against :data:`_SMALL_SORT_BYTES` to pick the
    single-partition or the range-partitioned path. Strategy only; results
    are identical on every path (pinned in tests)."""
    spark = df.sparkSession
    # Small-input fast path (see sources.tables.is_small_input): merge to ONE
    # partition and sort locally. monotonically_increasing_id on a single
    # partition IS the dense 0-based index, so the boundary-sampling job, the
    # range exchange, the layout checkpoint, and the per-partition counts
    # collect all disappear. At real scale the leaves are TBs of parquet and
    # the parallel path below runs.
    from wiki_mysql_spark.sources.tables import (
        PROBE_ROWS,
        is_rdd_backed,
        is_small_input,
        jvm_max_heap,
        leaf_bytes,
        local_frame,
        probe_size,
    )

    # For unknown-stats inputs (RDD/checkpoint-backed, e.g. the wiki
    # pipeline's frames) materialize BEFORE the gate: both strategies
    # consume the frame fully anyway, and the checkpoint makes the byte
    # probe read materialized blocks instead of re-running the upstream
    # DAG — which lets the gate measure BYTES (the single-task sort bound)
    # rather than trusting row count alone. Skip when the frame is ALREADY
    # checkpoint-backed (e.g. global_ntile checkpoints before its count):
    # re-checkpointing would hold a second full copy in the block manager.
    _, stats_unknown = leaf_bytes(df)
    if stats_unknown and not is_rdd_backed(df):
        df = df.localCheckpoint(eager=True)
    if is_small_input(df, max_bytes=_SMALL_SORT_BYTES, byte_probe=True):
        # repartition (not coalesce): coalesce(1) would drag the upstream
        # narrow ops (e.g. the regex cleaning chain) into the single task;
        # a round-robin exchange keeps them parallel and only the tiny
        # sort+number runs on one reducer.
        one = df.repartition(1).sortWithinPartitions(*order_by)
        out_cols = [F.col(c) for c in df.columns]
        return one.select(
            (F.monotonically_increasing_id() + F.lit(start)).alias(id_col),
            *out_cols,
        )
    # Size the range-partitioned sort from session parallelism / shuffle
    # config, NOT from df.rdd.getNumPartitions(): under AQE, converting to an
    # RDD forces every upstream shuffle stage to materialize (extra jobs, and
    # those stages then run again for the real sort). A single-file upstream
    # still fans out because the range exchange redistributes it; at cluster
    # scale spark.sql.shuffle.partitions is the operator's width knob.
    n_part = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
        spark.sparkContext.defaultParallelism,
        1,
    )
    ordered = df.repartitionByRange(n_part, *order_by).sortWithinPartitions(*order_by)

    tagged = ordered.withColumn("_mid", F.monotonically_increasing_id()).withColumn(
        "_pid", F.shiftright("_mid", 33).cast("long")
    )
    # Persist so the count pass and the final projection see the exact same
    # partition layout (repartitionByRange samples range boundaries). Lazy:
    # the counts collect below is the materializing action, so the checkpoint
    # costs no extra job of its own. STORAGE LEVEL is byte-gated: a frame
    # whose leaves are a large fraction of the heap (the 24M-page wiki ETL's
    # cleaned text — measured OOM in the sink stage with the default
    # deserialized MEMORY_AND_DISK level) goes DISK_ONLY, so the layout is
    # still frozen but the block manager never fights the sort/scan
    # execution memory for it; the partition layout does not depend on the
    # storage level, only on the already-sampled range boundaries.
    from pyspark.storagelevel import StorageLevel

    known_bytes, unknown = leaf_bytes(df)
    if unknown:
        # Checkpoint/RDD-backed frames report no leaf stats — exactly the
        # wiki-pipeline frames this gate exists for (a big dump whose staged
        # frame stays in the block manager must still get DISK_ONLY here,
        # or the sink-stage OOM returns). The frame was eagerly localCheckpointed
        # above (or arrived checkpoint-backed), so the probe reads
        # materialized blocks, not the upstream DAG: exact summed widths
        # when the frame fits the row cap, else mean width x exact count.
        n, known_bytes = probe_size(df)
        if n > PROBE_ROWS:
            known_bytes = int(known_bytes / n * df.count())
    big = known_bytes > _DISK_LEVEL_HEAP_FRACTION * jvm_max_heap(spark)
    tagged = tagged.localCheckpoint(
        eager=False,
        storageLevel=StorageLevel.DISK_ONLY if big else None,
    )

    counts = (
        tagged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).orderBy("_pid").collect()
    )
    offsets, acc = [], start
    for row in counts:
        offsets.append((row["_pid"], acc))
        acc += row["_n"]
    offset_df = F.broadcast(
        local_frame(spark, offsets, "_pid long, _offset long")
    )

    out_cols = [F.col(c) for c in df.columns]
    return (
        tagged.join(offset_df, "_pid")
        .select(
            (F.col("_offset") + (F.col("_mid").bitwiseAND(F.lit(_LOW33)))).alias(id_col),
            *out_cols,
        )
    )


def global_ntile(
    df: DataFrame,
    order_by: list[str | Column],
    n_tiles: int,
    *,
    tile_col: str = "tile",
) -> DataFrame:
    """Exact ``NTILE(n) OVER (ORDER BY ...)`` without the single-task window.

    ``F.ntile(n).over(Window.orderBy(...))`` requires AllTuples — Spark
    funnels the entire input through ONE WindowExec task (the
    "No Partition Defined" warning), which dies at 100 TB. Instead: a dense
    global rank via :func:`dense_ids` (range-partitioned parallel sort +
    per-partition offset broadcast — only one row per partition ever
    reaches the driver) and the ANSI NTILE arithmetic applied to the rank
    as a pure codegen expression: with ``n`` rows and ``k`` tiles, the
    first ``n % k`` tiles hold ``n div k + 1`` rows and the rest ``n div
    k`` — exactly the bucket sizes every SQL engine (and the DuckDB
    oracles) produce. ``order_by`` should be a total order; within ties
    the assignment is partition-placement-dependent, same as any engine's
    ntile tie-break.

    The row count comes from one extra ``count()`` job — metadata-cheap on
    parquet-backed frames; expensive upstreams are checkpointed first
    (mirroring dense_ids) so neither the count nor the rank re-runs them.
    """
    from wiki_mysql_spark.sources.tables import leaf_bytes

    _, stats_unknown = leaf_bytes(df)
    if stats_unknown:
        df = df.localCheckpoint(eager=True)
    n = df.count()
    ranked = dense_ids(df, order_by, id_col="_rk", start=1)
    q, r = divmod(n, n_tiles)
    rk = F.col("_rk")
    if q == 0:
        # fewer rows than tiles: each row is its own tile (ANSI semantics)
        bucket = rk
    else:
        cutoff = r * (q + 1)
        # ceil via integer DIV — exact at any row count (no double rounding)
        bucket = F.when(
            rk <= F.lit(cutoff),
            F.expr(f"CAST((_rk + {q}) DIV {q + 1} AS BIGINT)"),
        ).otherwise(
            F.lit(r).cast("long")
            + F.expr(f"CAST((_rk - {cutoff} + {q - 1}) DIV {q} AS BIGINT)")
        )
    return ranked.select(
        *[F.col(c) for c in df.columns], bucket.cast("long").alias(tile_col)
    )
