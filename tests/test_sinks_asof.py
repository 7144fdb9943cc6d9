"""Sink-layer tests (parquet round-trip, quarantine split) and as-of join
edge cases (tolerance, no-prior-match)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from wiki_mysql_spark.operators.asof import asof_join
from wiki_mysql_spark.sinks import (
    TITLE_MAX_CHARS,
    split_quarantine,
    write_arrow_parquet,
    write_parquet,
)


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")], ["id", "v", "part"]
    )
    out = str(tmp_path / "t")
    write_parquet(df, out, partition_by=["part"])
    back = spark.read.parquet(out)
    assert sorted((r["id"], r["v"], r["part"]) for r in back.collect()) == [
        (1, "a", "x"),
        (2, "b", "x"),
        (3, "c", "y"),
    ]
    # partition pruning: filter on the partition col reads one directory —
    # assert it at the PLAN level (the predicate must land in
    # PartitionFilters, i.e. prune directories, not filter rows post-scan)
    pruned = back.where(F.col("part") == "y")
    assert pruned.count() == 1
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "= y" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_arrow_parquet_sink_layout_and_overwrite(spark, tmp_path):
    """A driver-side Arrow table is written as Spark's writer lays a table
    out: one ``part-*.zstd.parquet`` file plus ``_SUCCESS`` and no temp
    file, read back with its rows and types; a second write into the same
    directory replaces the first one's rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = str(tmp_path / "t")
    first = pa.table({"id": pa.array([1, 2, 3], pa.int64()),
                      "v": ["a", None, "c"]})
    assert write_arrow_parquet(spark, first, out) == 3
    visible = sorted(f for f in os.listdir(out) if not f.startswith("."))
    assert len(visible) == 2 and visible[0] == "_SUCCESS", visible
    assert visible[1].startswith("part-00000-")
    assert visible[1].endswith("-c000.zstd.parquet")
    meta = pq.ParquetFile(os.path.join(out, visible[1])).metadata
    assert meta.row_group(0).column(0).compression == "ZSTD"
    back = spark.read.parquet(out)
    assert back.dtypes == [("id", "bigint"), ("v", "string")]
    assert sorted(map(tuple, back.collect()), key=repr) == sorted(
        [(1, "a"), (2, None), (3, "c")], key=repr
    )

    second = pa.table({"id": pa.array([9], pa.int64()), "v": ["z"]})
    assert write_arrow_parquet(spark, second, out) == 1
    assert [tuple(r) for r in spark.read.parquet(out).collect()] == [(9, "z")]
    assert len([f for f in os.listdir(out) if f.startswith("part-")]) == 1
    # an empty table still writes a readable file with the schema
    empty = second.slice(0, 0)
    assert write_arrow_parquet(spark, empty, out) == 0
    assert spark.read.parquet(out).dtypes == [("id", "bigint"), ("v", "string")]
    assert spark.read.parquet(out).count() == 0


def test_quarantine_split(spark):
    articles = spark.createDataFrame(
        [
            (1, 10, "ok title", 1),
            (2, 20, "x" * (TITLE_MAX_CHARS + 1), 2),
            (3, 30, "points at bad body", 3),
        ],
        ["id", "aid", "title", "body"],
    )
    bodies = spark.createDataFrame(
        [(1, "fine"), (2, "fine too"), (3, "also fine")], ["id", "body"]
    )
    a_ok, b_ok, quarantine = split_quarantine(articles, bodies)
    assert sorted(r["id"] for r in a_ok.collect()) == [1, 3]
    assert b_ok.count() == 3
    q = quarantine.collect()
    assert len(q) == 1 and q[0]["table_name"] == "articles" and q[0]["id"] == 2


def test_quarantine_orphaned_article_is_audited(spark):
    """An article whose BODY is quarantined must itself leave an audit row
    — not silently vanish from articles_ok (the reference's silent-drop
    behavior this function exists to replace)."""
    from wiki_mysql_spark.sinks import BODY_MAX_BYTES

    articles = spark.createDataFrame(
        [(1, 10, "ok", 1), (2, 20, "points at huge body", 2)],
        ["id", "aid", "title", "body"],
    )
    bodies = spark.createDataFrame(
        [(1, "fine"), (2, "x" * (BODY_MAX_BYTES + 1))], ["id", "body"]
    )
    a_ok, b_ok, quarantine = split_quarantine(articles, bodies)
    assert [r["id"] for r in a_ok.collect()] == [1]
    assert [r["id"] for r in b_ok.collect()] == [1]
    q = {(r["table_name"], r["id"]): r["reject_reason"] for r in quarantine.collect()}
    assert q[("bodies", 2)] == "body exceeds MEDIUMTEXT"
    assert q[("articles", 2)] == "references quarantined body"


def _ts(s):
    return datetime.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [
            (1, 7, _ts("2024-01-01 10:00:00")),
            (2, 7, _ts("2024-01-01 12:00:00")),
            (3, 8, _ts("2024-01-01 09:00:00")),  # no prior right row
            (4, 7, _ts("2024-01-01 10:30:00")),
        ],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [
            (7, _ts("2024-01-01 09:30:00"), 101),
            (7, _ts("2024-01-01 11:00:00"), 102),
            (8, _ts("2024-01-01 23:00:00"), 103),  # after left's row
        ],
        ["user_id", "ts", "right_id"],
    )
    return left, right


def test_asof_backward_inclusive(spark, asof_frames):
    left, right = asof_frames
    out = {
        r["event_id"]: r["right_id"]
        for r in asof_join(
            left,
            right,
            on="user_id",
            left_time="ts",
            right_time="ts",
            right_values=["right_id"],
        ).collect()
    }
    assert out == {1: 101, 2: 102, 3: None, 4: 101}


def test_asof_tolerance(spark, asof_frames):
    left, right = asof_frames
    out = {
        r["event_id"]: r["right_id"]
        for r in asof_join(
            left,
            right,
            on="user_id",
            left_time="ts",
            right_time="ts",
            right_values=["right_id"],
            tolerance=F.expr("INTERVAL 45 MINUTE"),
        ).collect()
    }
    # event 1: 30min gap -> kept; event 4: 60min gap -> nulled; event 2: 60min -> nulled
    assert out == {1: 101, 2: None, 3: None, 4: None}


def test_dynamic_partition_overwrite(spark, tmp_path):
    """Overwriting one partition must not clobber sibling partitions —
    the incremental-backfill write mode a daily pipeline depends on."""
    out = str(tmp_path / "dyn")
    spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")], ["id", "v", "day"]
    ).write.partitionBy("day").parquet(out)
    # rewrite ONLY day=d2 (static overwrite would drop day=d1 entirely)
    spark.createDataFrame([(9, "z", "d2")], ["id", "v", "day"]).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy("day").parquet(out)
    back = sorted(
        (r["id"], r["v"], r["day"])
        for r in spark.read.parquet(out).collect()
    )
    assert back == [(1, "a", "d1"), (2, "b", "d1"), (9, "z", "d2")]


def test_compact_parquet_small_files(spark, tmp_path):
    from wiki_mysql_spark.sinks import compact_parquet

    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 2)
    df.repartition(16).write.parquet(src)
    n_src_files = len([f for f in spark.read.parquet(src).inputFiles()])
    assert n_src_files >= 16
    n = compact_parquet(spark, src, dst, target_file_bytes=10 * 1024 * 1024)
    back = spark.read.parquet(dst)
    assert len(back.inputFiles()) == n < n_src_files
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == 9999 * 10_000


# ---------------------------------------------------------------------------
# JDBC integration (embedded Derby — jars ship with Spark for the Hive
# metastore; the writer path is byte-identical for MySQL, only url/driver
# change). Mirrors the reference's end-to-end contract: DDL init
# (database.py:30-41), batched inserts (database.py:59-104), re-run
# idempotence via truncate, quarantine instead of silent drops.
# ---------------------------------------------------------------------------

from tests.conftest import DERBY_DRIVER


@pytest.fixture()
def derby_url(spark, tmp_path):
    from tests.conftest import ensure_derby

    # keep derby.log out of the repo root (effective before engine boot)
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log")
    )
    ensure_derby(spark)  # asserts with diagnostics; never skips
    return f"jdbc:derby:{tmp_path}/db;create=true"


def test_jdbc_roundtrip_ddl_batch_truncate(spark, tmp_path, derby_url):
    from wiki_mysql_spark.sinks import execute_ddl, write_jdbc

    # DDL pre-step (Derby dialect of sql/init.sql's articles table)
    execute_ddl(
        spark,
        derby_url,
        [
            "CREATE TABLE articles ("
            " id BIGINT NOT NULL, aid BIGINT NOT NULL,"
            f" title VARCHAR({TITLE_MAX_CHARS}) NOT NULL,"
            " body BIGINT NOT NULL, PRIMARY KEY (id))"
        ],
        driver=DERBY_DRIVER,
    )

    rows = [(i, 10 * i, f"title {i}", i) for i in range(1, 501)]
    df = spark.createDataFrame(rows, ["id", "aid", "title", "body"])
    # small batchsize + 2 partitions: several executeBatch flushes per task
    write_jdbc(
        df, derby_url, "articles",
        driver=DERBY_DRIVER, batchsize=100, num_partitions=2,
    )
    back = spark.read.format("jdbc").options(
        url=derby_url, dbtable="articles", driver=DERBY_DRIVER
    ).load()
    back = back.toDF(*[c.lower() for c in back.columns])  # Derby uppercases
    assert sorted(
        (r["id"], r["aid"], r["title"], r["body"]) for r in back.collect()
    ) == rows

    # truncate semantics: a re-run REPLACES (no duplicate accumulation),
    # and the pre-created schema survives (truncate, not drop+recreate)
    rows2 = [(i, 10 * i, f"rewritten {i}", i) for i in range(1, 101)]
    write_jdbc(
        spark.createDataFrame(rows2, ["id", "aid", "title", "body"]),
        derby_url, "articles", driver=DERBY_DRIVER, num_partitions=1,
    )
    back2 = spark.read.format("jdbc").options(
        url=derby_url, dbtable="articles", driver=DERBY_DRIVER
    ).load()
    back2 = back2.toDF(*[c.lower() for c in back2.columns])
    assert back2.count() == 100
    assert back2.where(F.col("title").startswith("rewritten")).count() == 100


def test_jdbc_append_mode(spark, derby_url):
    from wiki_mysql_spark.sinks import write_jdbc

    df1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    df2 = spark.createDataFrame([(3, "c")], ["id", "v"])
    write_jdbc(df1, derby_url, "kv", driver=DERBY_DRIVER, truncate=False)
    write_jdbc(df2, derby_url, "kv", driver=DERBY_DRIVER, truncate=False)
    back = spark.read.format("jdbc").options(
        url=derby_url, dbtable="kv", driver=DERBY_DRIVER
    ).load()
    back = back.toDF(*[c.lower() for c in back.columns])
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_jdbc_quarantine_then_write(spark, derby_url):
    """End-to-end reject path: oversize rows land in quarantine, the clean
    remainder lands in the database — vs the reference's silent drop
    (dbfy.py:142-143)."""
    from wiki_mysql_spark.sinks import split_quarantine, write_jdbc

    articles = spark.createDataFrame(
        [(1, 10, "ok", 1), (2, 20, "x" * (TITLE_MAX_CHARS + 1), 2)],
        ["id", "aid", "title", "body"],
    )
    bodies = spark.createDataFrame([(1, "fine"), (2, "fine")], ["id", "body"])
    a_ok, b_ok, quarantine = split_quarantine(articles, bodies)
    write_jdbc(a_ok, derby_url, "articles_q", driver=DERBY_DRIVER)
    back = spark.read.format("jdbc").options(
        url=derby_url, dbtable="articles_q", driver=DERBY_DRIVER
    ).load()
    back = back.toDF(*[c.lower() for c in back.columns])
    assert [r["id"] for r in back.collect()] == [1]
    assert quarantine.count() == 1


def test_asof_directions_hand_computed(spark):
    """backward / forward / nearest semantics on a hand-checkable series;
    nearest breaks ties backward like pandas merge_asof."""
    left = spark.createDataFrame(
        [(1, 10), (1, 25), (1, 40)], ["k", "t"]
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 20, "b"), (1, 30, "c"), (1, 40, "d")], ["k", "t", "v"]
    )

    def run(direction, tolerance=None):
        got = asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_values=["v"], direction=direction,
            tolerance=tolerance,
        ).collect()
        return {r["t"]: r["v"] for r in got}

    # backward: most recent r.t <= l.t (40 matches the equal-t row)
    assert run("backward") == {10: "a", 25: "b", 40: "d"}
    # forward: earliest r.t >= l.t (10 -> 20/"b"; 25 -> 30/"c"; 40 -> "d")
    assert run("forward") == {10: "b", 25: "c", 40: "d"}
    # nearest: 10 is 2 from "a" vs 10 from "b" -> "a"; 25 is 5/5 tie -> "b"
    assert run("nearest") == {10: "a", 25: "b", 40: "d"}
    # tolerance bounds the forward gap the same way it bounds backward
    assert run("forward", tolerance=F.lit(3)) == {10: None, 25: None, 40: "d"}


def test_asof_forward_no_later_match_is_null(spark):
    left = spark.createDataFrame([(1, 100)], ["k", "t"])
    right = spark.createDataFrame([(1, 50, "old")], ["k", "t", "v"])
    got = asof_join(
        left, right, on="k", left_time="t", right_time="t",
        right_values=["v"], direction="forward",
    ).collect()
    assert got[0]["v"] is None


def test_asof_same_instant_ties_greatest_tuple_wins(spark):
    """Regression pin for the r8 determinism fix (asof.py tie order): with
    several right rows at the SAME (key, t) instant, the documented winner
    is the GREATEST right_values tuple — in all three directions. Before
    the fix the winner was whichever row the shuffle placed last
    (hypothesis caught run-to-run flapping); this test is the missing pin
    the r8 advice named. Two value columns prove the pick is the whole
    ROW with the greatest (v1, v2) tuple, not a per-column max."""
    left = spark.createDataFrame([(1, 10), (1, 30)], ["k", "t"])
    # at t=20: tuples ("b", 1) < ("c", 0)?  No: "b" < "c", so ("c", 0) is
    # the greatest tuple even though its SECOND field is the smaller one —
    # a per-column max would fabricate ("c", 1).
    right = spark.createDataFrame(
        [(1, 20, "b", 1), (1, 20, "c", 0), (1, 20, "a", 9)],
        ["k", "t", "v1", "v2"],
    )

    def run(direction):
        rows = asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_values=["v1", "v2"], direction=direction,
        ).collect()
        return {r["t"]: (r["v1"], r["v2"]) for r in rows}

    # backward from t=30, forward from t=10, nearest from both: every
    # direction resolves the t=20 tie to the greatest tuple ("c", 0)
    assert run("backward") == {10: (None, None), 30: ("c", 0)}
    assert run("forward") == {10: ("c", 0), 30: (None, None)}
    assert run("nearest") == {10: ("c", 0), 30: ("c", 0)}


def test_asof_same_instant_tie_at_equal_t_with_left(spark):
    """Tie rows AT the left row's own instant stay inclusive in both
    directions and still resolve to the greatest tuple."""
    left = spark.createDataFrame([(1, 20)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 20, 5), (1, 20, 7), (1, 20, 6)], ["k", "t", "v"]
    )
    for direction in ("backward", "forward", "nearest"):
        got = asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_values=["v"], direction=direction,
        ).collect()
        assert got[0]["v"] == 7, direction


def test_asof_rejects_unorderable_map_value_column(spark):
    """Map-typed right_values cannot participate in the tie ORDER BY —
    the operator must refuse loudly at call time (the r8 advice noted the
    pre-fix code accepted maps and the fix regressed them to an opaque
    AnalysisException), and name the offending column."""
    left = spark.createDataFrame([(1, 10)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 5, {"a": 1})], "k long, t long, m map<string,int>"
    )
    with pytest.raises(ValueError, match="'m' has unorderable type"):
        asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_values=["m"],
        )
    with pytest.raises(ValueError, match="not in right"):
        asof_join(
            left, right, on="k", left_time="t", right_time="t",
            right_values=["nope"],
        )
