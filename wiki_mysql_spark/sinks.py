"""Sinks: parquet (analytic tier) and JDBC/MySQL (compatibility tier).

The reference writes row-at-a-time INSERTs with commit-per-page and silent
row drops on error (``/root/reference/database.py:59-104``, ``dbfy.py:
138-143,151``), plus a 10x reconnect retry on MySQL 2006
(``database.py:42-57``). Here:

  * the analytic tier is columnar parquet, partitioned for pruning;
  * the MySQL tier is ``DataFrameWriter.jdbc`` — batched inserts, one
    transaction per partition, task retries instead of hand-rolled
    reconnects, ids pre-assigned (operators/ids.py) instead of lastrowid;
  * rows the reference would silently drop are split into a quarantine
    DataFrame instead (SURVEY §1.4 — an intentional upgrade).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# MySQL schema limits from the reference DDL (/root/reference/sql/init.sql:
# 5-19): title VARCHAR(1027), body MEDIUMTEXT (<= 16 MiB), utf8 (3-byte —
# supplementary-plane chars would be rejected by a strict utf8mb3 server).
TITLE_MAX_CHARS = 1027
BODY_MAX_BYTES = 16 * 1024 * 1024 - 1

# DDL the JDBC writer issues via createTableOptions / a DDL pre-step —
# the analog of Database.execute_script("sql/init.sql") at dbfy.py:293-294.
ARTICLES_DDL = (
    "CREATE TABLE IF NOT EXISTS `articles` ("
    " `id` BIGINT NOT NULL, `aid` BIGINT NOT NULL,"
    f" `title` VARCHAR({TITLE_MAX_CHARS}) NOT NULL,"
    " `body` BIGINT NOT NULL, PRIMARY KEY (`id`), KEY `body` (`body`)"
    ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4"
)
BODIES_DDL = (
    "CREATE TABLE IF NOT EXISTS `bodies` ("
    " `id` BIGINT NOT NULL, `body` MEDIUMTEXT NOT NULL, PRIMARY KEY (`id`)"
    ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4"
)

_BODY_REASON = "body exceeds MEDIUMTEXT"
_ORPHAN_REASON = "references quarantined body"


def _title_reason() -> str:
    return f"title exceeds VARCHAR({TITLE_MAX_CHARS})"


def split_quarantine(
    articles: DataFrame, bodies: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split rows that MySQL would reject into a quarantine frame.

    The reference silently drops any page whose insert errors
    (``dbfy.py:142-143``, ``database.py:87-104``); quarantining instead
    keeps the pipeline auditable. Returns (articles_ok, bodies_ok,
    quarantine) where quarantine rows carry a reject reason.

    ``bodies`` may carry a precomputed ``body_octets`` column (the wiki
    pipeline computes it at staging): the size checks then never touch the
    text column, so the quarantine/orphan consumers are narrow scans —
    without it each of the three derived frames re-reads the full body
    column. ``bodies_ok`` is projected back to the (id, body) sink shape
    either way.
    """
    bad_title = F.length("title") > TITLE_MAX_CHARS
    blen = (
        F.col("body_octets")
        if "body_octets" in bodies.columns
        else F.octet_length("body")
    )
    bad_body = blen > BODY_MAX_BYTES

    articles_bad = articles.where(bad_title).select(
        F.lit("articles").alias("table_name"),
        F.col("id"),
        F.lit(_title_reason()).alias("reject_reason"),
    )
    bodies_bad = bodies.where(bad_body).select(
        F.lit("bodies").alias("table_name"),
        F.col("id"),
        F.lit(_BODY_REASON).alias("reject_reason"),
    )
    bad_body_ids = bodies.where(bad_body).select(F.col("id").alias("_bad"))
    # articles referencing a quarantined body are ALSO dropped from the ok
    # set — each gets its own audit row (without it an auditor reconciling
    # article counts would find unexplained missing ids, exactly the silent
    # drop this function exists to prevent)
    articles_orphaned = (
        articles.where(~bad_title)
        .join(bad_body_ids, articles.body == F.col("_bad"), "left_semi")
        .select(
            F.lit("articles").alias("table_name"),
            F.col("id"),
            F.lit(_ORPHAN_REASON).alias("reject_reason"),
        )
    )
    quarantine = articles_bad.unionByName(bodies_bad).unionByName(
        articles_orphaned
    )

    bodies_ok = bodies.where(~bad_body).select("id", "body")
    articles_ok = articles.where(~bad_title).join(
        bad_body_ids, articles.body == F.col("_bad"), "left_anti"
    )
    return articles_ok, bodies_ok, quarantine


def split_quarantine_rows(
    articles: list[tuple], body_octets: dict[int, int]
) -> tuple[list[tuple], set[int], list[tuple]]:
    """Driver-side twin of :func:`split_quarantine`, same three rules, for
    a corpus already on the driver. ``articles`` are ``(id, aid, title,
    body)`` tuples, ``body_octets`` maps each body id to its octet length.
    Returns ``(articles_ok, bad_body_ids, quarantine)`` with quarantine rows
    ``(table_name, id, reject_reason)``. The limits are read when called.
    An article with a null title lands in neither output, as a null
    ``length`` filters it out of both sides of the Spark split."""
    bad_bodies = {i for i, n in body_octets.items() if n > BODY_MAX_BYTES}
    ok: list[tuple] = []
    quarantine = [("bodies", i, _BODY_REASON) for i in sorted(bad_bodies)]
    for a in articles:
        title, body = a[2], a[3]
        if title is None:
            continue
        if len(title) > TITLE_MAX_CHARS:
            quarantine.append(("articles", a[0], _title_reason()))
        elif body in bad_bodies:
            quarantine.append(("articles", a[0], _ORPHAN_REASON))
        else:
            ok.append(a)
    return ok, bad_bodies, quarantine


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
    max_records_per_file: int | None = None,
    row_group_bytes: int | None = None,
) -> None:
    """Columnar write for the analytic tier.

    File-layout rules that decide read performance at 100 TB:
      * partition columns must be low-cardinality query predicates
        (partition pruning); a high-cardinality partition key means millions
        of tiny files — the classic failure mode;
      * ``max_records_per_file`` caps file size so downstream scans
        parallelize (target 128 MB-1 GB files);
      * zstd: ~parquet-snappy read speed at notably better ratio — at
        100 TB the storage/scan-IO delta is the whole game;
      * ``row_group_bytes`` (parquet.block.size) bounds the PER-TASK writer
        buffer: every concurrent writer holds ~one row group in memory, so
        n_writers x block_size must fit the executor heap alongside the
        scan. The 128 MB default is right for numeric fact tables; for
        wide-text tables written by many concurrent tasks on small
        per-task budgets (local[32] on one 8 GB heap = ~250 MB/task — the
        24M-page ETL's measured writer OOM) 32 MB keeps the same files,
        scan parallelism, and compression at a quarter of the buffer.
    """
    w = df.write.mode(mode).option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if row_group_bytes:
        w = w.option("parquet.block.size", str(row_group_bytes))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_arrow_parquet(spark, table, path: str) -> int:
    """Write a driver-side ``pyarrow.Table`` as a one-file parquet table,
    with no Spark job; returns ``table.num_rows``.

    The driver twin of :func:`write_parquet` for tables already built on
    the driver (the small wiki ETL's ``articles`` and ``quarantine``): the
    same zstd parquet, serialized by ``pyarrow.parquet`` and written
    through the Hadoop FileSystem of ``path`` (so hdfs:// and s3a://
    outputs land where Spark's writer would put them). The layout is the
    one Spark's writer leaves: ``path`` is replaced (deleted first, as
    ``mode("overwrite")`` does), the file is written under a
    ``_``-prefixed temp name that readers skip, renamed to
    ``part-00000-<uuid>-c000.zstd.parquet``, and ``_SUCCESS`` is written
    last."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from wiki_mysql_spark.session import hadoop_fs

    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression="zstd")
    fs, hdir = hadoop_fs(spark, path)
    if fs.exists(hdir):
        fs.delete(hdir, True)
    fs.mkdirs(hdir)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"part-00000-{uuid.uuid4()}-c000.zstd.parquet"
    tmp = Path(hdir, "_" + name)
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())  # bytes cross py4j as byte[]
    finally:
        out.close()
    if not fs.rename(tmp, Path(hdir, name)):
        fs.delete(tmp, False)
        raise IOError(f"write_arrow_parquet: rename {tmp} -> {name} failed")
    fs.create(Path(hdir, "_SUCCESS"), True).close()
    return table.num_rows


def execute_ddl(
    spark,
    url: str,
    statements: list[str],
    *,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
) -> None:
    """Run DDL statements over a raw JDBC connection — the analog of the
    reference's ``Database.execute_script("sql/init.sql")``
    (``/root/reference/database.py:30-41``, ``dbfy.py:293-294``). Runs on
    the driver JVM via DriverManager: DDL is a one-shot control-plane step,
    not data-plane work, so it never touches an executor."""
    jvm = spark._jvm
    if driver is not None:
        # Spark's own loader, not java.lang.Class.forName: py4j's forName
        # consults the JVM system classloader, which cannot see jars added
        # via spark.jars/--jars (the documented way to supply the MySQL
        # connector) — the driver would "work in tests" only because Derby
        # ships on the system classpath
        jvm.org.apache.spark.util.Utils.classForName(driver, True, False)
    props = jvm.java.util.Properties()
    if user is not None:
        props.setProperty("user", user)
    if password is not None:
        props.setProperty("password", password)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        stmt = conn.createStatement()
        try:
            for s in statements:
                stmt.execute(s)
        finally:
            stmt.close()
    finally:
        conn.close()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    truncate: bool = True,
    create_table_ddl: str | None = None,
) -> None:
    """Batched JDBC write (the MySQL bulk-load tier).

    Replaces the reference's per-row execute + commit-per-page + lastrowid
    protocol (``database.py:59-104``) with: pre-assigned ids, ``batchsize``d
    ``executeBatch`` inserts, one transaction per partition, Spark task
    retries on transient failures (subsumes the 2006-reconnect loop,
    ``database.py:42-57``). ``num_partitions`` caps concurrent connections —
    at cluster scale, coalesce so you don't open 2000 connections against
    one MySQL primary.

    Requires a JDBC driver jar on the classpath. The integration test
    exercises the full path against embedded Derby (whose jars ship with
    Spark); against MySQL, pass the connector jar via ``spark.jars`` and the
    MySQL url/credentials — the writer code is identical.
    """
    if create_table_ddl is not None:
        # the reference-parity schema must actually EXIST before the write:
        # a createTableOptions string never executes any DDL, so Spark would
        # auto-generate a keyless TEXT schema from the DataFrame instead of
        # sql/init.sql's types/keys. The DDLs are IF NOT EXISTS (re-runs
        # no-op) and the truncate write below preserves the schema.
        execute_ddl(
            df.sparkSession, url, [create_table_ddl],
            user=user, password=password, driver=driver,
        )
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", "READ_COMMITTED")
        .option("truncate", str(truncate).lower())
        .mode("overwrite" if truncate else "append")
    )
    if user is not None:
        w = w.option("user", user)
    if password is not None:
        w = w.option("password", password)
    if driver is not None:
        w = w.option("driver", driver)
    if num_partitions is not None:
        w = w.option("numPartitions", str(num_partitions))
    if create_table_ddl is not None:
        w = w.option("createTableOptions", "ENGINE=InnoDB DEFAULT CHARSET=utf8mb4")
    w.save()


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    *,
    target_file_bytes: int = 256 * 1024 * 1024,
    compression: str = "zstd",
) -> int:
    """Rewrite a small-file parquet directory into ~target-size files.

    Streaming/incremental writers (foreachBatch upserts, per-trigger
    appends) accumulate many tiny files; at cluster scale the resulting
    per-file open/footer overhead dominates scan time. Sizing is derived
    from the SOURCE's compressed bytes (Hadoop ContentSummary — works for
    any FileSystem impl, not just file://), and the rewrite uses
    ``coalesce``: merging partitions needs no shuffle, and row order within
    surviving partitions is preserved. Returns the partition count used.
    """
    import math

    from wiki_mysql_spark.session import hadoop_fs

    fs, hpath = hadoop_fs(spark, src_path)
    total = fs.getContentSummary(hpath).getLength()
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_path)
    df.coalesce(n).write.mode("overwrite").option(
        "compression", compression
    ).parquet(dst_path)
    return n
