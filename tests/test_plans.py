"""Physical-plan regression guards: the properties that make these queries
scale are asserted structurally, so a future edit that silently loses a
pushdown, a broadcast, or a top-k short-circuit fails here rather than only
showing up as a slow bench. (PLANS_r2.md is the narrative audit; these are
its load-bearing claims as tests.)
"""

from __future__ import annotations

import io
import math
from contextlib import redirect_stdout

import pytest

from tests.conftest import SF_CORRECTNESS, SF_SMOKE
from wiki_mysql_spark.queries import QUERIES


def _plan(name: str, spark) -> str:
    df = QUERIES[name](spark, SF_CORRECTNESS)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")  # full node details, no line truncation
    return buf.getvalue()


def test_scan_filter_project_pushdown(spark):
    plan = _plan("scan_filter_project", spark)
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_quantity,45.0)" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    # projection pruned to exactly the needed columns
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_comment" not in read and "l_shipdate" not in read


def test_q5_all_dims_broadcast(spark):
    plan = _plan("q5_revenue_by_nation", spark)
    # formatted explain lists each node in the tree AND a detail section,
    # so require at least the four tree occurrences
    assert plan.count("BroadcastHashJoin") >= 4, (
        "star join must broadcast all four dimension sides"
    )
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sort_topk_uses_take_ordered(spark):
    plan = _plan("sort_topk_global", spark)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan, "top-k must not global-sort"


def test_theta_join_not_cartesian(spark):
    plan = _plan("join_theta_residual", spark)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_embedding_lsh_no_cartesian_and_checkpointed_sigs(spark):
    plan = _plan("dedup_embedding_lsh", spark)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # both join sides must read the one materialized signature frame
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_text_queries_have_no_shuffle(spark):
    for name in ["text_quality", "text_repetition_ratio"]:
        plan = _plan(name, spark)
        assert "Exchange" not in plan, f"{name} must stay per-row (no shuffle)"


@pytest.mark.parametrize("name", ["wiki_clean_markup", "multimodal_metadata"])
def test_metadata_queries_prune_scan(spark, name):
    plan = _plan(name, spark)
    if "ReadSchema:" in plan:
        read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
        assert "embedding" not in read


def test_interval_join_is_equi_not_cartesian(spark):
    plan = _plan("join_interval_points", spark)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_substring_spans_no_cartesian_single_shingle_pass(spark):
    plan = _plan("dedup_substring_spans", spark)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # both consumers (dup-shingle agg + join-back) must read the one
    # checkpointed shingle materialization, not re-explode the corpus
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_fuzzy_editdist_skew_path_no_cartesian(spark):
    plan = _plan("dedup_fuzzy_editdist", spark)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_morton_key_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.layout import morton_key

    def py_morton(x, y, bits=16):
        acc = 0
        for i in range(bits):
            acc |= ((x >> i) & 1) << (2 * i)
            acc |= ((y >> i) & 1) << (2 * i + 1)
        return acc

    rows = [(x, y) for x in (0, 1, 2, 3, 255, 65535) for y in (0, 1, 7, 1024, 65535)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = df.select("x", "y", morton_key(F.col("x"), F.col("y")).alias("z")).collect()
    for r in got:
        assert r["z"] == py_morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_buckets_prune_on_both_dimensions(spark):
    """The point of z-order: a predicate on EITHER key column alone skips
    most buckets. An x-only sort prunes x perfectly but every bucket spans
    the full y range, so y predicates scan everything; Morton bucketing
    bounds both, at a modest cost in x selectivity."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from wiki_mysql_spark.operators.layout import zorder_bucket_stats

    rng = random.Random(3)
    rows = [(rng.randrange(4096), rng.randrange(4096)) for _ in range(4096)]
    df = spark.createDataFrame(rows, ["x", "y"])

    def touched(stats, dim, point):
        lo, hi = dim + "_min", dim + "_max"
        return sum(1 for r in stats if r[lo] <= point <= r[hi]) / len(stats)

    z = zorder_bucket_stats(df, "x", "y", n_buckets=16).collect()
    s = (
        df.withColumn("bucket", F.ntile(16).over(Window.orderBy("x", "y")))
        .groupBy("bucket")
        .agg(F.min("x").alias("x_min"), F.max("x").alias("x_max"),
             F.min("y").alias("y_min"), F.max("y").alias("y_max"))
        .collect()
    )
    probes = [100, 1500, 2900, 4000]
    # x-only sort: y point queries touch EVERY bucket (no pruning at all)
    assert all(touched(s, "y", p) == 1.0 for p in probes)
    # z-order: both dimensions prune — on average a point query touches
    # well under half the buckets in either dimension
    zx = sum(touched(z, "x", p) for p in probes) / len(probes)
    zy = sum(touched(z, "y", p) for p in probes) / len(probes)
    assert zx <= 0.5 and zy <= 0.5, (zx, zy)


def test_zorder_layout_writes_clustered_files(spark, tmp_path):
    """zorder_layout + parquet write: each produced file's (x, y) min-max
    rectangle must cover only a fraction of the key space — the property
    file-level pruning relies on."""
    import random

    import pyarrow.parquet as pq

    from wiki_mysql_spark.operators.layout import zorder_layout

    rng = random.Random(9)
    rows = [(rng.randrange(1024), rng.randrange(1024)) for _ in range(4096)]
    df = spark.createDataFrame(rows, ["x", "y"])
    out = str(tmp_path / "zorder")
    zorder_layout(df, "x", "y", n_files=8).write.parquet(out)
    import glob

    areas = []
    for f in glob.glob(out + "/*.parquet"):
        t = pq.read_table(f)
        if t.num_rows == 0:
            continue
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        areas.append(
            (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1) / (1024 * 1024)
        )
    assert len(areas) >= 4  # range partitioner actually spread the data
    # every file covers a bounded rectangle, far below the full space
    assert sum(areas) / len(areas) < 0.35, areas


def test_weighted_reservoir_is_takeordered(spark):
    """The weighted sample must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge), never a global sort of the corpus."""
    from tests.conftest import SF_CORRECTNESS
    from wiki_mysql_spark.queries import QUERIES

    df = QUERIES["sample_weighted_reservoir"](spark, SF_CORRECTNESS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_aqe_skew_join_splits_hot_partition(spark):
    """Spark's AQE skew-join handling is the engine-native complement to
    the explicit salting operators (operators/skew.py): with a hot key
    dominating one side of a sort-merge join, the adaptive plan must mark
    the join skew=true and split the oversized partition — the mechanism
    that makes unsalted fact-fact joins survive Zipfian keys at 100 TB."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        # 200k fact rows, 95% on one key, with a payload wide enough that
        # the hot post-shuffle partition crosses the threshold
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7)).otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("v"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        joined = fact.join(dim, "k")
        # act on the frame ITSELF so its QueryExecution holds the FINAL
        # adaptive plan (a sink write plans through a separate execution
        # whose child would still print isFinalPlan=false here)
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def _walk_physical(node):
    """Yield every node of a JVM SparkPlan tree, descending into the AQE
    wrapper's initial plan (the sweep runs pre-execution)."""
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_physical(it.next())
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        yield from _walk_physical(node.initialPlan())


def test_registry_wide_plan_shape_guards(spark):
    """ONE registry sweep enforcing every whole-registry plan-shape
    invariant (r14: formerly two tests that each rebuilt all 200 entries —
    building the entries, not checking the plans, is ~98% of the cost, so
    the merge halves ~340s of suite wall):

    * NO unpartitioned WindowExec anywhere ("WARN WindowExec: No Partition
      Defined") — a global ORDER BY window funnels the entire input
      through one task, the one plan shape that cannot survive 100x data.
      Global ntile/rank spellings must go through
      operators.ids.global_ntile / dense_ids, value-range frames through
      bucket-and-carry (window_range_frame).
    * NO CartesianProduct anywhere (r6 verdict item 7 — the PLANS_r{N}.md
      hand audit promoted to CI).
    * Every BroadcastNestedLoopJoin is a broadcast-tiny documented
      contract (BNLJ_CONTRACT) or the build fails.

    Streaming entries (no batch plan before execution) and entries that
    materialize eagerly are exercised by their own suites."""
    from wiki_mysql_spark.queries import QUERIES

    offenders, cart, bnlj = {}, {}, {}
    for name, fn in sorted(QUERIES.items()):
        try:
            df = fn(spark, SF_CORRECTNESS)
            plan = df._jdf.queryExecution().executedPlan()
        except Exception:
            continue  # entries needing special fixtures fail at build, not plan
        bad = []
        for n in _walk_physical(plan):
            cls = n.getClass().getSimpleName()
            if not cls.startswith("Window"):
                continue  # WindowExec / WindowInPandasExec / WindowGroupLimitExec
            try:
                if n.partitionSpec().isEmpty():
                    bad.append(cls)
            except Exception:
                pass  # py4j attrs resolve lazily; non-window lookalikes skip
        if bad:
            offenders[name] = bad
        text = plan.toString()
        if "CartesianProduct" in text:
            cart[name] = text.count("CartesianProduct")
        if "BroadcastNestedLoopJoin" in text and name not in BNLJ_CONTRACT:
            bnlj[name] = text.count("BroadcastNestedLoopJoin")
    assert not offenders, f"unpartitioned WindowExec in: {offenders}"
    assert not cart, f"CartesianProduct in: {cart}"
    assert not bnlj, (
        f"undocumented BroadcastNestedLoopJoin in: {bnlj} — broadcast-tiny "
        "by design? add to BNLJ_CONTRACT with the justification"
    )


def test_map_in_pandas_spread_fans_out_small_scan(spark, tmp_path):
    """r4 verdict item 3: heavy-row spreading must be AUTOMATIC for the
    Arrow-mapped operator class. A small (well under the byte gate)
    single-split parquet scan pushed through map_in_pandas_spread must fan
    its expensive per-row stage across the cluster — the flag-forgotten
    regression that put 17 s of codec work on 1 of 32 cores."""
    import pandas as pd

    from wiki_mysql_spark.sources.tables import map_in_pandas_spread

    path = str(tmp_path / "tiny.parquet")
    spark.range(1000).selectExpr(
        "id", "repeat('x', 1000) AS payload"  # ~1 MB total: under every gate
    ).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1  # the hazard is real

    def _expensive(batches):
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"], "n": pdf["payload"].map(len)})

    out = map_in_pandas_spread(scan, _expensive, "id long, n long")
    assert (
        out.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    ), "Arrow stage still runs on the single scan partition"
    assert out.count() == 1000


def test_block_self_pairs_spread_quadratic_output(spark, tmp_path):
    """The blocked self-join's output is quadratic in block sizes; on a
    small single-split input the pair explosion (and any per-pair
    predicate, e.g. levenshtein) must not inherit one scan partition
    through a broadcast join — found live at sf0.1 where 25M candidate
    pairs ran their levenshtein filter on 1 of 32 cores."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.skew import skew_safe_block_self_pairs

    path = str(tmp_path / "blocked.parquet")
    spark.range(2000).selectExpr(
        "id", "concat('b', id % 5) AS blk"
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    pairs = skew_safe_block_self_pairs(df, block="blk", id_col="id")
    assert (
        pairs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    ), "pair explosion still lands on the single scan partition"
    # exactness unchanged: 5 blocks x C(400, 2) unordered pairs
    assert pairs.count() == 5 * (400 * 399) // 2


def test_ivfpq_candidate_join_is_equi_on_cell(spark):
    """IVFADC's acceptance bar (r5 verdict): the candidate join must be an
    equi-join on the probed cell — NOT the BroadcastNestedLoopJoin over the
    full code table that exhaustive-ADC pq_topk uses."""
    plan = _plan("ann_topk_ivfpq", spark)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Entries whose BroadcastNestedLoopJoin is a DOCUMENTED contract (audited
# r6, re-measured r7): every one broadcasts a 1-row aggregate (counts,
# corpus stats), a k-row centroid/ratio/band dim, or — for ann_topk_pq —
# declares exhaustive ADC over the code table as its contract (the scale
# shape is ann_topk_ivfpq's cell-bounded equi-join). A NEW name appearing
# here must come with the same justification in its docstring.
BNLJ_CONTRACT = {
    "agg_hll_merge_partitions",
    "ann_topk_bruteforce",
    "ann_topk_pq",
    "corpus_dsir_weights",
    "corpus_mix_weights",
    "dedup_sorted_neighborhood",
    "drift_psi",
    "graph_triangle_count",
    "hybrid_search_rrf",
    # same 1-row corpus-stats broadcast as hybrid_search_rrf/text_bm25_topk
    # (the shared _bm25_scores lexical core); the vector half is the
    # partition-pruned index scan, BNLJ-free
    "hybrid_search_rrf_indexed",
    "join_cross_dims",
    "join_range_bands",
    "profile_histogram",
    "q11_important_parts",
    "rag_retrieve_context",
    "text_bm25_topk",
    "text_tfidf_keywords",
    # two 1-row broadcasts by construction: the reference vocabulary size
    # (the add-one smoothing denominator) and the corpus-mean logprob the
    # keep flag compares against (operators/lm.py — the same corpus-stats
    # shape as corpus_dsir_weights)
    "text_perplexity_filter",
    "text_unigram_lm_score",
}

# Entries with a known-pushable scan predicate: (min scans with non-empty
# PushedFilters) pinned from the r7 audit — a refactor that silently stops
# a filter reaching the parquet scan fails here, not in the next round's
# hand audit. Values are MINIMA so an added pushdown never fails.
PUSHDOWN_PINNED = {
    "q1_pricing_summary": 1,
    "q5_revenue_by_nation": 2,
    "q3_top_orders_by_segment": 3,
    "q6_revenue_forecast": 1,
    "q19_disjunctive_predicates": 2,
    "q10_returned_items": 4,
    "q21_waiting_suppliers": 3,
    "q2_min_cost_supplier": 5,
    "q20_excess_red_suppliers": 4,
    "join_theta_residual": 2,
    "ann_topk_ivf_trained": 2,
}


def test_pinned_scan_pushdowns_still_reach_parquet(spark):
    """Companion to the registry-wide shape guard: for entries with a
    known-pushable predicate, the number of parquet scans carrying
    non-empty PushedFilters must not drop below the audited r7 value —
    the 'filter silently stopped reaching the scan' regression class."""
    import re

    lost = {}
    for name, want in PUSHDOWN_PINNED.items():
        plan = _plan(name, spark)
        got = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        if got < want:
            lost[name] = (got, want)
    assert not lost, f"pushed-filter scans below pinned minimum: {lost}"


def test_ann_index_query_scan_prunes_to_probed_cells(spark, tmp_path):
    """The persisted IVFADC index's 100 TB claim as behavior: the code-table
    scan must carry a literal ``cell IN (probed)`` PartitionFilter and the
    EXECUTED scan must read exactly the probed cells' partitions (the
    numPartitions metric), not the whole index."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        ivfpq_index_build,
        ivfpq_index_query,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "annidx")
    ivfpq_index_build(emb, path, n_coarse=8, coarse_iters=2, m=8, n_centroids=16)
    n_probe = 3
    res = ivfpq_index_query(
        spark, path, emb.where(F.col("vec_id") == 0), k=10, n_probe=n_probe
    )
    # collect() executes THIS DataFrame's queryExecution (count() would
    # build and execute a different plan, leaving these metrics empty)
    assert len(res.collect()) > 0
    plan = res._jdf.queryExecution().executedPlan()
    text = plan.toString()
    assert "PartitionFilters: [cell#" in text and " IN (" in text, (
        "the probed-cell predicate must reach the parquet scan as a "
        "partition filter"
    )
    # walk the final (post-AQE) physical plan for the parquet scan's
    # executed metrics: partitions read == probed cells <= n_probe
    scans = []
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("Scan parquet"):
            mets = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                mets[kv._1()] = kv._2().value()
            scans.append(mets)
        ch = node.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif "QueryStage" in name:
            stack.append(node.plan())
    parts = [m["numPartitions"] for m in scans if "numPartitions" in m]
    assert parts, "no partitioned parquet scan found in the executed plan"
    assert max(parts) <= n_probe, (
        f"index scan read {max(parts)} cell partitions for n_probe={n_probe}"
    )


def test_ann_index_header_rides_hadoop_filesystem(spark, tmp_path):
    """r8 advice: the index header (meta.json) must go through the Hadoop
    FileSystem resolved for the index root's SCHEME, like the code table's
    parquet does — a plain open() writes to the driver's local cwd-relative
    path and breaks every non-local root (hdfs://, s3a://). Pin with a
    scheme'd file: URI, which plain open() cannot even address: build and
    query must round-trip, and the header must land INSIDE the root."""
    import os

    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        ivfpq_index_build,
        ivfpq_index_query,
        ivfpq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    local = tmp_path / "annidx_uri"
    uri = "file://" + str(local)
    ivfpq_index_build(emb, uri, n_coarse=8, coarse_iters=2, m=8, n_centroids=16)
    assert os.path.exists(local / "meta.json"), "header not inside the root"
    got = sorted(map(tuple, ivfpq_index_query(
        spark, uri, emb.where(F.col("vec_id") < 3), k=5, n_probe=2
    ).collect()))
    want = sorted(map(tuple, ivfpq_topk(
        emb, emb.where(F.col("vec_id") < 3), k=5, n_coarse=8, n_probe=2,
        m=8, n_centroids=16, coarse_iters=2,
    ).collect()))
    assert got == want


def test_lsh_index_query_scan_prunes_to_probed_buckets(
    spark, tmp_path, monkeypatch
):
    """The persisted LSH index's 100 TB claim as behavior (the lsh_topk
    docstring's "at scale the corpus is written bucket-partitioned, so a
    query touches 1 + probe_bits*n_planes partitions per table"): the
    bucket scan must carry partition filters on BOTH partition columns
    (tbl, bucket) and the EXECUTED scan must read exactly the probed
    buckets that exist on disk — never the whole index. Pinned to the
    distributed plan (one-task bound 0); the one-task plan has its own
    twin below."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators import similarity
    from wiki_mysql_spark.operators.similarity import (
        lsh_index_build,
        lsh_index_query,
        lsh_probe_buckets,
        lsh_signature,
        lsh_table_planes,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "lshidx")
    n_planes, n_tables, probe_bits = 8, 2, 1
    idx = lsh_index_build(emb, path, dim=64, n_planes=n_planes, n_tables=n_tables)
    existing = {
        (int(r["tbl"]), int(r["bucket"]))
        for r in idx.select("tbl", "bucket").distinct().collect()
    }
    queries = emb.where(F.col("vec_id") == 0)
    # expected probed set, from the operator module's own probe scheme
    tables = lsh_table_planes(64, n_planes, n_tables)
    probed = set()
    for t in range(n_tables):
        row = queries.select(
            F.array(
                *lsh_probe_buckets(
                    lsh_signature(F.col("embedding"), tables[t]),
                    n_planes, probe_bits,
                )
            ).alias("bs")
        ).collect()[0]
        probed |= {(t, int(b)) for b in row["bs"]}
    want_parts = len(probed & existing)
    assert 0 < want_parts < len(existing), "fixture probes must be selective"

    monkeypatch.setattr(similarity, "_LSH_ONE_TASK_BYTES", 0)
    res = lsh_index_query(spark, path, queries, k=10, probe_bits=probe_bits)
    assert len(res.collect()) > 0
    plan = res._jdf.queryExecution().executedPlan()
    text = plan.toString()
    assert "PartitionFilters: [" in text and "tbl#" in text and "bucket#" in text, (
        "the probed-bucket predicate must reach the parquet scan as "
        "partition filters on both partition columns"
    )
    scans = []
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("Scan parquet"):
            mets = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                mets[kv._1()] = kv._2().value()
            scans.append(mets)
        ch = node.children()
        for i in range(ch.length()):
            stack.append(ch.apply(i))
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif "QueryStage" in name:
            stack.append(node.plan())
    parts = [m["numPartitions"] for m in scans if "numPartitions" in m]
    assert parts, "no partitioned parquet scan found in the executed plan"
    assert max(parts) == want_parts, (
        f"index scan read {max(parts)} bucket partitions; probed-and-"
        f"existing = {want_parts} (of {len(existing)} total)"
    )


def _executed_nodes(plan):
    """Every node of an EXECUTED JVM SparkPlan, descending into the AQE
    final plan and its query stages."""
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        yield node
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())


def _jobs_of(spark, action):
    """(action's result, ids of the Spark jobs it ran), via a job group
    read back from the status tracker. The group id is fresh per call:
    the tracker keeps every earlier job of a reused group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4()}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="module")
def lsh_roots(spark, tmp_path_factory):
    """sf0.001 LSH indexes at 1 and 2 tables x 8 planes (float vectors, as
    stored in the fixture), plus a 2-table index of the same vectors
    stored as doubles, each with two tombstoned ids:
    {1 | 2 | "double": (root, dead ids)}."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        lsh_index_build,
        lsh_index_delete,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    wide = emb.select("vec_id", F.col("embedding").cast("array<double>"))
    roots = {}
    for key, n_tables, corpus in ((1, 1, emb), (2, 2, emb), ("double", 2, wide)):
        root = str(tmp_path_factory.mktemp(f"lsh{key}") / "idx")
        lsh_index_build(corpus, root, dim=64, n_planes=8, n_tables=n_tables)
        lsh_index_delete(spark, root, [5, 7, 5])
        roots[key] = (root, {5, 7})
    return roots


def _one_task(res) -> bool:
    """True when ``res`` is lsh_index_query's one-task plan (a mapInArrow
    over the pruned scan), False for the distributed bucket join."""
    return "MapInArrow" in res._jdf.queryExecution().optimizedPlan().toString()


def _knn_both_paths(spark, monkeypatch, root, queries, **kw):
    """lsh_index_query of one batch with the one-task gate open, then with
    its bound at 0: ((rows, schema, one task?) per path)."""
    from wiki_mysql_spark.operators import similarity

    out = []
    for bound in (similarity._LSH_ONE_TASK_BYTES, 0):
        with monkeypatch.context() as m:
            m.setattr(similarity, "_LSH_ONE_TASK_BYTES", bound)
            res = similarity.lsh_index_query(spark, root, queries, **kw)
        out.append((sorted(map(tuple, res.collect())), res.schema, _one_task(res)))
    return out


@pytest.mark.parametrize("key", [1, 2, "double"])
def test_lsh_index_query_one_task_gate_parity(spark, lsh_roots, monkeypatch, key):
    """Both sides of lsh_index_query's byte gate return identical rows and
    an identical StructType (the caller's query_id type and nullability
    included), on batches that stress the ranking rules: self-queries of
    live and tombstoned ids, a repeated identical row, one query_id with
    two vectors (at k=10 and k=2), an int id column, an empty batch and k
    past the candidate count."""
    from pyspark.sql import functions as F

    root, _ = lsh_roots[key]
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding")
    q = emb.where(F.col("vec_id") < 4)
    two_vectors = emb.where(F.col("vec_id").isin(1, 2)).select(
        F.lit(9).cast("long").alias("vec_id"), "embedding")
    batches = {
        "self": (q, 10),
        "self_tombstoned": (emb.where(F.col("vec_id").isin(5, 6)), 10),
        "repeated_row": (q.unionAll(q.where(F.col("vec_id") == 0)), 10),
        "one_id_two_vectors": (two_vectors, 10),
        "one_id_two_vectors_k2": (two_vectors, 2),
        "int_id": (q.select(F.col("vec_id").cast("int").alias("vec_id"),
                            "embedding"), 10),
        "empty": (q.where(F.lit(False)), 10),
        "k_past_candidates": (q, 100_000),
    }
    for name, (batch, k) in batches.items():
        (rows, schema, one), (d_rows, d_schema, d_one) = _knn_both_paths(
            spark, monkeypatch, root, batch, k=k, probe_bits=1)
        assert one and not d_one, name
        assert rows == d_rows, name
        assert schema == d_schema, name
        assert name == "empty" or rows, name


def test_lsh_index_query_degenerate_batches_take_distributed_path(
    spark, lsh_roots, tmp_path
):
    """A null query vector, and a root with a streaming batch= delta
    layer, take the distributed plan: its Spark semantics (a null
    similarity) stay Spark's."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        lsh_index_init,
        lsh_index_query,
        lsh_index_write_delta,
    )

    root, _ = lsh_roots[2]
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding")
    q = emb.where(F.col("vec_id") < 2)
    null_vec = q.select("vec_id", F.lit(None).cast("array<float>").alias("embedding"))
    res = lsh_index_query(spark, root, null_vec, k=5)
    assert not _one_task(res)
    assert all(r["cos_sim"] is None for r in res.collect())

    delta_root = str(tmp_path / "delta")
    lsh_index_init(spark, delta_root, dim=64, n_planes=8, n_tables=2)
    lsh_index_write_delta(emb, delta_root, "batch=0")
    res = lsh_index_query(spark, delta_root, q, k=5, probe_bits=1)
    assert not _one_task(res)
    assert len(res.collect()) == 10


def test_lsh_index_query_one_task_degenerate_index_rows(
    spark, tmp_path, monkeypatch
):
    """Index rows the numpy scorer must treat as Spark does: a null vector,
    a null element, a vector of another width (all null similarity,
    ranked last), a NaN element (NaN, ranked first) and a zero vector (a
    zero norm product: null similarity), plus a zero query vector (null
    against every row but the NaN one). Both plans return the same rows
    with ANSI on, off and unset (Spark 4's default is ANSI). One plane and
    probe_bits=1 make every row a candidate of every query."""
    from wiki_mysql_spark.operators.similarity import lsh_index_build

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.5, 0.5, 0.0, 0.0]), (3, None),
        (4, [1.0, None, 0.0, 0.0]), (5, [float("nan"), 0.0, 0.0, 0.0]),
        (6, [1.0, 2.0, 3.0]), (7, [0.0, 1.0, 0.0, 0.0]),
        (8, [0.0, 0.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "idx")
    lsh_index_build(corpus, root, dim=4, n_planes=1, n_tables=2)
    queries = spark.createDataFrame(
        [(1, [1.0, 1.0, 0.0, 0.0]), (100, [0.0, 1.0, 1.0, 0.0]),
         (200, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false", None):
            if ansi is None:
                spark.conf.unset("spark.sql.ansi.enabled")
            else:
                spark.conf.set("spark.sql.ansi.enabled", ansi)
            (got, schema, one), (want, d_schema, d_one) = _knn_both_paths(
                spark, monkeypatch, root, queries, k=20, probe_bits=1)
            assert one and not d_one, ansi
            assert schema == d_schema, ansi
            assert len(got) == 23, ansi
            # NaN rows carry the same NaN; compare them through repr
            assert repr(got) == repr(want), ansi
            # the zero query meets a zero norm product everywhere but at
            # the NaN row, where the product is NaN
            zero_query = {r[1]: r[2] for r in got if r[0] == 200}
            assert len(zero_query) == 8 and math.isnan(zero_query.pop(5)), ansi
            assert set(zero_query.values()) == {None}, ansi
            assert [r[2] for r in got if r[1] == 8] == [None, None, None], ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_lsh_index_query_one_task_two_jobs_no_shuffle(spark, lsh_roots):
    """Under the byte gate a knn on a root with tombstones runs at most 2
    Spark jobs (the batch collect, then the scan at the action): its
    executed plan has no exchange, no join and no window, and the
    tombstoned ids never return."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import lsh_index_query

    root, dead = lsh_roots[2]
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")

    def knn():
        res = lsh_index_query(
            spark, root, emb.where(F.col("vec_id") < 8), k=10, probe_bits=1)
        return res, res.collect()

    (res, rows), jobs = _jobs_of(spark, knn)
    assert _one_task(res)
    assert rows and not {r["neighbor_id"] for r in rows} & dead
    assert len(jobs) <= 2, f"knn ran {len(jobs)} Spark jobs"
    kinds = {n.getClass().getSimpleName()
             for n in _executed_nodes(res._jdf.queryExecution().executedPlan())}
    assert not {k for k in kinds
                if "Exchange" in k or "Join" in k or "Window" in k}, kinds


def test_lsh_index_query_one_task_scan_prunes_to_probed_buckets(
    spark, lsh_roots
):
    """The one-task plan's candidate scan carries partition filters on
    both tbl and bucket and reads exactly the probed directories that
    exist on disk."""
    import os

    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        lsh_index_query,
        lsh_probe_buckets,
        lsh_signature,
        lsh_table_planes,
    )

    root, _ = lsh_roots[2]
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") == 0)
    existing = {
        (int(t.split("=")[1]), int(b.split("=")[1]))
        for t in os.listdir(f"{root}/buckets") if t.startswith("tbl=")
        for b in os.listdir(f"{root}/buckets/{t}") if b.startswith("bucket=")
    }
    probed = set()
    for t, planes in enumerate(lsh_table_planes(64, 8, 2)):
        row = queries.select(F.array(*lsh_probe_buckets(
            lsh_signature(F.col("embedding"), planes), 8, 1)).alias("bs")
        ).collect()[0]
        probed |= {(t, int(b)) for b in row["bs"]}
    want_parts = len(probed & existing)
    assert 0 < want_parts < len(existing), "fixture probes must be selective"

    res = lsh_index_query(spark, root, queries, k=10, probe_bits=1)
    assert _one_task(res) and res.collect()
    scans = [n for n in _executed_nodes(res._jdf.queryExecution().executedPlan())
             if n.getClass().getSimpleName() == "FileSourceScanExec"
             and "bucket" in n.output().toString()]
    assert len(scans) == 1, scans
    text = scans[0].toString()
    assert "PartitionFilters: [" in text and "tbl#" in text and "bucket#" in text
    assert scans[0].metrics().apply("numPartitions").value() == want_parts


def test_lsh_index_query_five_jobs_one_shuffle(spark, lsh_roots, monkeypatch):
    """A persisted-index knn plans its probe on the driver: on a root with
    tombstones one query batch runs at most 5 Spark jobs (status-store
    count), the executed plan has exactly ONE shuffle Exchange (the top-k
    window's, which the final distinct reuses), and the broadcast probe
    side is a LocalTableScan — no checkpoint of the caller's frame, no
    distinct-buckets collect, no dedup shuffle. Pinned to the distributed
    plan (one-task bound 0)."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators import similarity
    from wiki_mysql_spark.operators.similarity import lsh_index_query

    monkeypatch.setattr(similarity, "_LSH_ONE_TASK_BYTES", 0)
    root, dead = lsh_roots[2]
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")

    def knn():  # building the frame runs the query-batch collect
        res = lsh_index_query(
            spark, root, emb.where(F.col("vec_id") < 8), k=10, probe_bits=1)
        return res, res.collect()

    (res, rows), jobs = _jobs_of(spark, knn)
    assert rows and not {r["neighbor_id"] for r in rows} & dead
    assert len(jobs) <= 5, f"knn ran {len(jobs)} Spark jobs"

    nodes = list(_executed_nodes(res._jdf.queryExecution().executedPlan()))
    kinds = [n.getClass().getSimpleName() for n in nodes]
    assert kinds.count("ShuffleExchangeExec") == 1, kinds
    probe = [n.child().getClass().getSimpleName() for n in nodes
             if n.getClass().getSimpleName() == "BroadcastExchangeExec"
             and "query_id" in n.output().toString()]
    assert probe == ["LocalTableScanExec"], probe
    assert "WindowGroupLimitExec" in kinds


def test_lsh_index_query_schema_empty_batch_and_width(spark, lsh_roots):
    """The output schema (names, order, types — the caller's id type
    included) is the one the Spark-side query path had; an empty batch
    gives an empty result; a query vector whose width is not the header's
    dim fails loudly instead of hashing to bucket 0."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import lsh_index_query

    root, _ = lsh_roots[2]
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").cast("int").alias("vec_id"), "embedding"
    )
    want = [("query_id", "int"), ("neighbor_id", "bigint"),
            ("cos_sim", "double"), ("rank", "bigint")]
    res = lsh_index_query(spark, root, q, k=5, probe_bits=1)
    assert res.dtypes == want
    assert len(res.collect()) == 15
    empty = lsh_index_query(spark, root, q.where(F.lit(False)), k=5)
    assert empty.dtypes == want and empty.collect() == []
    narrow = q.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    with pytest.raises(ValueError, match="dim=64"):
        lsh_index_query(spark, root, narrow, k=5)


@pytest.mark.parametrize("n_tables", [1, 2])
def test_lsh_index_query_repeated_batch_row_returns_neighbour_once(
    spark, lsh_roots, n_tables
):
    """A batch repeating an identical (id, vector) row — the benchmark's
    stream can repeat an appended id inside one batch — returns each
    neighbour once, with the ranks of the single-row batch."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import lsh_index_query

    root, _ = lsh_roots[n_tables]
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    once = sorted(map(tuple, lsh_index_query(
        spark, root, q, k=10, probe_bits=1).collect()))
    twice = sorted(map(tuple, lsh_index_query(
        spark, root, q.unionAll(q), k=10, probe_bits=1).collect()))
    assert twice == once
    assert len({(r[0], r[1]) for r in once}) == len(once) == 30


@pytest.mark.parametrize("n_tables", [1, 2])
def test_lsh_topk_matches_groupby_row_number_reference(spark, n_tables):
    """lsh_topk's one-path top-k (dense_rank, rank <= k, distinct) equals
    the two-shuffle reference: max() per (query, neighbour) pair, then
    row_number — with a repeated query row in the batch."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from wiki_mysql_spark.functions.vectors import cosine
    from wiki_mysql_spark.operators.similarity import (
        _lsh_corpus_side,
        _lsh_query_side,
        lsh_table_planes,
        lsh_topk,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    q = q.unionAll(q.where(F.col("vec_id") == 0))
    got = sorted(map(tuple, lsh_topk(
        emb, q, k=5, probe_bits=1, n_tables=n_tables).collect()))

    tables = lsh_table_planes(64, 8, n_tables)
    pairs = (
        _lsh_query_side(q, tables, 8, 1, "vec_id", "embedding")
        .join(_lsh_corpus_side(emb, tables, "vec_id", "embedding"),
              ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max(cosine(F.col("qv"), F.col("cv"))).alias("raw_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("raw_sim").desc(), F.col("neighbor_id"))
    want = sorted(map(tuple, pairs.select(
        "query_id", "neighbor_id",
        (F.round("raw_sim", 6) + 0.0).alias("cos_sim"),
        F.row_number().over(w).cast("long").alias("rank"),
    ).where(F.col("rank") <= 5).collect()))
    assert got == want and len(got) == 25


def test_index_delete_tombstones_dedup_one_job(spark, tmp_path):
    """The shared delete primitive writes ``<id_name> long`` tombstones,
    one per distinct id: an iterable of ids is deduped on the driver and
    written in ONE Spark job (no scan of a Python RDD, no distinct
    shuffle); a DataFrame of ids keeps its distinct()."""
    from wiki_mysql_spark.operators.similarity import _index_delete

    path = str(tmp_path / "root")
    _, jobs = _jobs_of(spark, lambda: _index_delete(
        spark, path, [9, 3, 3, 9], id_name="neighbor_id"))
    assert len(jobs) == 1
    _index_delete(spark, path, spark.range(2).union(spark.range(2)),
                  id_name="neighbor_id")
    tombs = spark.read.parquet(str(tmp_path / "root" / "tombstones"))
    assert tombs.dtypes == [("neighbor_id", "bigint")]
    assert sorted(r[0] for r in tombs.collect()) == [0, 1, 3, 9]


def test_index_delete_compact_and_pointer_swap(spark, tmp_path):
    """Index lifecycle (r9 verdict item #5). Tombstone deletes are
    merge-on-read: query-after-delete must equal a query over an index
    that NEVER contained the deleted ids (per-row hashing is pointwise,
    so build(corpus \\ D) is the exact reference). Compaction settles the
    debt: the new root physically lacks the dead rows and carries no
    tombstones. IVFADC mirrors the behavior under frozen codebooks. The
    current-pointer swap (index_publish/index_current) publishes the
    compacted root atomically."""
    import os

    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        index_current,
        index_publish,
        ivfpq_index_build,
        ivfpq_index_delete,
        ivfpq_index_query,
        lsh_index_build,
        lsh_index_compact,
        lsh_index_delete,
        lsh_index_query,
        lsh_index_read,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dead = emb.where(F.col("vec_id") % 3 == 0)
    alive = emb.where(F.col("vec_id") % 3 != 0)
    q = emb.where(F.col("vec_id").isin(1, 2, 4))  # live query vectors

    # --- LSH: delete -> query parity with a never-contained-them build
    full_root = str(tmp_path / "lsh_full")
    ref_root = str(tmp_path / "lsh_ref")
    lsh_index_build(emb, full_root, dim=64, n_planes=8, n_tables=2)
    lsh_index_build(alive, ref_root, dim=64, n_planes=8, n_tables=2)
    lsh_index_delete(spark, full_root, dead.select("vec_id"))
    got = sorted(map(tuple, lsh_index_query(
        spark, full_root, q, k=5, probe_bits=1
    ).collect()))
    want = sorted(map(tuple, lsh_index_query(
        spark, ref_root, q, k=5, probe_bits=1
    ).collect()))
    assert got == want and got, "delete must hide exactly the dead ids"
    dead_ids = {int(r["vec_id"]) for r in dead.select("vec_id").collect()}
    assert not any(r[1] in dead_ids for r in got)

    # deleting twice (retried job) changes nothing
    lsh_index_delete(spark, full_root, [next(iter(dead_ids))])
    again = sorted(map(tuple, lsh_index_query(
        spark, full_root, q, k=5, probe_bits=1
    ).collect()))
    assert again == got

    # --- compaction makes the deletes physical and retires tombstones
    cmp_root = str(tmp_path / "lsh_cmp")
    compacted = lsh_index_compact(spark, full_root, cmp_root)
    assert not os.path.exists(os.path.join(cmp_root, "tombstones"))
    on_disk = {int(r["neighbor_id"]) for r in compacted.select("neighbor_id").collect()}
    assert not (on_disk & dead_ids), "compacted root must lack dead rows"
    assert sorted(map(tuple, lsh_index_query(
        spark, cmp_root, q, k=5, probe_bits=1
    ).collect())) == got
    # live-row reader agrees across both roots
    assert lsh_index_read(spark, full_root).count() == compacted.count()

    # --- atomic publication: one pointer write swaps every future reader
    pointer = "file://" + str(tmp_path / "lsh_current.json")
    index_publish(spark, pointer, full_root)
    assert index_current(spark, pointer) == full_root
    index_publish(spark, pointer, cmp_root)
    assert index_current(spark, pointer) == cmp_root
    assert sorted(map(tuple, lsh_index_query(
        spark, index_current(spark, pointer), q, k=5, probe_bits=1
    ).collect())) == got

    # --- retirement: the previous generation is reclaimed, the CURRENT
    # one can never be deleted even when listed
    from wiki_mysql_spark.operators.similarity import index_retire

    deleted = index_retire(spark, pointer, [full_root, cmp_root])
    assert deleted == [full_root]
    assert not os.path.exists(full_root), "retired generation must be gone"
    assert sorted(map(tuple, lsh_index_query(
        spark, index_current(spark, pointer), q, k=5, probe_bits=1
    ).collect())) == got, "current generation must survive retire"

    # --- IVFADC: same merge-on-read behavior under frozen codebooks
    pq_root = str(tmp_path / "pq_full")
    ivfpq_index_build(emb, pq_root, n_coarse=8, coarse_iters=1, m=8,
                      n_centroids=16)
    base = ivfpq_index_query(spark, pq_root, q, k=5, n_probe=2).collect()
    ivfpq_index_delete(spark, pq_root, dead.select("vec_id"))
    after = ivfpq_index_query(spark, pq_root, q, k=5, n_probe=2).collect()
    assert after and not any(int(r["neighbor_id"]) in dead_ids for r in after)
    # deletes only ever REMOVE candidates: per query, the surviving
    # neighbors of the pre-delete top-k must be a rank-ordered PREFIX of
    # the post-delete result (removal promotes lower-ranked candidates but
    # never reorders survivors — the (adc_dist, neighbor_id) sort key is
    # untouched by the anti-join)
    def _ranked(rows):
        out = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(int(r["query_id"]), []).append(int(r["neighbor_id"]))
        return out

    base_by_q, after_by_q = _ranked(base), _ranked(after)
    assert set(base_by_q) == set(after_by_q)
    for qid, base_ids in base_by_q.items():
        live = [i for i in base_ids if i not in dead_ids]
        assert after_by_q[qid][: len(live)] == live, (
            f"query {qid}: surviving neighbors must keep their order — "
            f"expected prefix {live}, got {after_by_q[qid]}"
        )


def test_index_pointer_overwrite_atomic_and_recovery(spark, tmp_path):
    """The publish pointer (and every index header) must never be ABSENT:
    _fs_write_text swaps with an overwriting FileContext rename (r10
    advice item — the old delete-then-rename pair had a window where a
    concurrent index_current failed and a crash lost the pointer). Also
    pins the hygiene contract (no temp siblings survive a successful
    write) and the reader-side recovery contract for the delete+rename
    FALLBACK path (r11 advice item — a tmp is VISIBLE with partial
    content between create() and close(), so adoption must be gated):
    a crashed fallback writer's tmp is recovered ONLY when it is old
    enough to not be an in-flight publish AND its content validates as
    complete JSON; recovery returns the content WITHOUT renaming the tmp
    into place (the read path never steals a live writer's tmp); a
    truncated tmp or a fresh tmp is never adopted — the reader gets the
    clean retryable missing-file error instead of persisted corruption."""
    import glob
    import json
    import os
    import time

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    from wiki_mysql_spark.operators.similarity import (
        _TMP_ADOPT_MIN_AGE_MS,
        index_current,
        index_publish,
    )

    pointer = str(tmp_path / "current.json")
    index_publish(spark, pointer, "/roots/gen1")
    assert index_current(spark, pointer) == "/roots/gen1"
    # overwrite an EXISTING pointer: new content lands, no temp siblings
    index_publish(spark, pointer, "/roots/gen2")
    assert index_current(spark, pointer) == "/roots/gen2"
    assert glob.glob(pointer + ".tmp-*") == [], (
        "a successful pointer write must not leave temp siblings"
    )

    aged = time.time() - 2 * _TMP_ADOPT_MIN_AGE_MS / 1000.0

    # (a) a FRESH tmp (possibly an in-flight publish) is NOT adopted even
    # though its content is valid — racing reader gets the retryable error
    os.remove(pointer)
    fresh = pointer + ".tmp-freshwrite"
    with open(fresh, "w") as f:
        json.dump({"root": "/roots/gen3"}, f)
    with _pytest.raises(Py4JJavaError, match="does not exist|FileNotFound"):
        index_current(spark, pointer)

    # (b) a TRUNCATED aged tmp (crash mid-create) is NOT adopted — partial
    # JSON must never become the pointer
    os.remove(fresh)
    broken = pointer + ".tmp-truncated"
    with open(broken, "w") as f:
        f.write('{"root": "/roots/ge')  # cut mid-value
    os.utime(broken, (aged, aged))
    with _pytest.raises(Py4JJavaError, match="does not exist|FileNotFound"):
        index_current(spark, pointer)

    # (c) an AGED, complete tmp (crashed fallback writer) IS recovered —
    # content returned, but the tmp is NOT renamed into place: the read
    # path must not mutate the directory out from under a writer's rename
    good = pointer + ".tmp-recovertest"
    with open(good, "w") as f:
        json.dump({"root": "/roots/gen3"}, f)
    os.utime(good, (aged, aged))
    assert index_current(spark, pointer) == "/roots/gen3"
    assert not os.path.exists(pointer), (
        "recovery must not materialize the pointer from the read path"
    )
    assert os.path.exists(good), "recovery must leave the writer's tmp alone"
    # newest valid aged candidate wins when several crashed writers left tmps
    newer = pointer + ".tmp-newercrash"
    with open(newer, "w") as f:
        json.dump({"root": "/roots/gen4"}, f)
    os.utime(newer, (aged + 1, aged + 1))
    assert index_current(spark, pointer) == "/roots/gen4"
    # (d) an aged candidate that cannot be OPENED (vanished between
    # globStatus and open — simulated with a directory, which open()
    # rejects the same way) must be skipped per-candidate, not raised
    # through: the next valid candidate still wins (r12 advice item)
    undir = pointer + ".tmp-zzunopenable"
    os.mkdir(undir)
    os.utime(undir, (aged + 2, aged + 2))
    assert index_current(spark, pointer) == "/roots/gen4"
    os.rmdir(undir)
    # the FS-clock age probe must not leave residue behind
    assert glob.glob(pointer + ".ageprobe-*") == [], (
        "recovery's filesystem-clock probe must clean up after itself"
    )
    # a subsequent real publish settles the file and wins over any tmp
    index_publish(spark, pointer, "/roots/gen5")
    assert index_current(spark, pointer) == "/roots/gen5"


def test_index_append_refuses_uncompacted_delta_layer(spark, tmp_path):
    """A stream-ingested root stores rows under batch=<id>/ delta dirs; a
    flat append NEXT TO them would give the dataset two conflicting
    partition structures and every later read would raise an
    AnalysisException (r10 advice item). Both append paths must refuse
    with a 'compact first' error, and compaction (which retires the
    delta layer) must make the same append legal again."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        ivfpq_index_append,
        ivfpq_index_compact,
        ivfpq_index_init,
        ivfpq_index_write_delta,
        lsh_index_append,
        lsh_index_compact,
        lsh_index_init,
        lsh_index_write_delta,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)

    root = str(tmp_path / "lsh_streamed")
    lsh_index_init(spark, root, dim=64, n_planes=6)
    lsh_index_write_delta(first, root, "batch=0")
    with _pytest.raises(ValueError, match="compact first|lsh_index_compact"):
        lsh_index_append(second, root)
    settled = str(tmp_path / "lsh_settled")
    lsh_index_compact(spark, root, settled)
    appended = lsh_index_append(second, settled)
    assert appended.count() == emb.count()

    pq_root = str(tmp_path / "pq_streamed")
    ivfpq_index_init(first, pq_root, n_coarse=4, coarse_iters=1, m=8,
                     n_centroids=8)
    ivfpq_index_write_delta(first, pq_root, "batch=0")
    with _pytest.raises(ValueError, match="compact first|ivfpq_index_compact"):
        ivfpq_index_append(second, pq_root)
    pq_settled = str(tmp_path / "pq_settled")
    ivfpq_index_compact(spark, pq_root, pq_settled)
    assert ivfpq_index_append(second, pq_settled).count() == emb.count()


def test_tombstone_antijoin_byte_gated(spark, tmp_path, monkeypatch):
    """The tombstone anti-join's physical strategy is data-driven (r10
    verdict item #1): below the byte gate the delete set is
    broadcast-hinted (plan shows BroadcastHashJoin LeftAnti); at/past the
    gate the hint is dropped so an oversized delete set degrades to a
    shuffle anti-join instead of an executor-OOMing broadcast (emulated
    here by zeroing the gate and disabling the auto-broadcast threshold —
    exactly the planner state a multi-GB tombstone set produces, whose
    real file size exceeds any threshold)."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    root = str(tmp_path / "lsh_gate")
    sim.lsh_index_build(emb, root, dim=64, n_planes=6)
    sim.lsh_index_delete(spark, root, [0, 3, 6])

    live = sim.lsh_index_read(spark, root)
    plan = live._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, (
        "small tombstone sets must broadcast"
    )

    monkeypatch.setattr(sim, "_TOMBSTONE_BROADCAST_BYTES", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = sim.lsh_index_read(spark, root)
        plan_big = big._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan_big and "LeftAnti" in plan_big, (
            "oversized tombstone sets must shuffle, not broadcast"
        )
        # same rows either way — the gate only picks the physical strategy
        key = lambda r: int(r["neighbor_id"])
        assert sorted(map(key, big.collect())) == sorted(map(key, live.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_minhash_index_prunes_appends_and_checks_scheme(spark, tmp_path):
    """The persisted minhash signature index (incremental dedup):
    (1) a SMALL batch's query scan must carry literal partition filters on
    BOTH layout columns (band, bk) — the batch's collided partitions only;
    (2) append must be row-identical to a from-scratch build of the union
    (the scheme is frozen module constants, header-checked);
    (3) a header whose scheme disagrees with the module must refuse
    loudly, not silently return empty results;
    (4) the incremental query against the indexed half must find the
    cross-half duplicate pairs the batch self-join finds."""
    import json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators import dedup as dd
    from wiki_mysql_spark.operators.similarity import (
        _fs_read_text,
        _fs_write_text,
        _index_child,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    fix = spark.createDataFrame(
        [(900001, "alpha beta gamma delta epsilon zeta eta theta"),
         (900002, "alpha beta gamma delta epsilon zeta eta theta"),
         (900004, "alpha beta gamma delta epsilon zeta eta theta iota")],
        ["doc_id", "text"],
    )
    corpus = docs.unionByName(fix)
    existing = corpus.where(F.col("doc_id") % 2 == 0)
    batch = corpus.where(F.col("doc_id") % 2 == 1)

    root = str(tmp_path / "mh_idx")
    dd.minhash_index_build(existing, root)

    # (1) pruning: a 2-doc batch probes at most 2 * N_BANDS partitions
    tiny = corpus.where(F.col("doc_id").isin(900001, 900004))
    res = dd.minhash_index_query(spark, root, tiny)
    rows = res.collect()
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "band#" in plan and "bk#" in plan, (
        "small-batch minhash index query must prune to its collided "
        "(band, bk) partitions"
    )
    # 900001 (batch) must collide with its indexed copy 900002
    assert any(r["doc_new"] == 900001 and r["doc_indexed"] == 900002
               for r in rows)

    # (4) verified incremental result == the batch self-join's cross-half
    # pairs (orientation: doc_a < doc_b and even/odd halves line up only
    # on the pair set, so compare unordered pairs + jaccard)
    inc = dd.minhash_index_query(
        spark, root, batch, corpus_docs=existing, jaccard_threshold=0.5
    )
    got = {(min(r["doc_new"], r["doc_indexed"]),
            max(r["doc_new"], r["doc_indexed"]), r["jaccard"])
           for r in inc.collect()}
    cross = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.minhash_lsh_pairs(corpus, jaccard_threshold=0.5).collect()
        if (r["doc_a"] % 2) != (r["doc_b"] % 2)
    }
    assert got == cross and got, (
        "incremental dedup must equal the batch self-join restricted to "
        "cross-half pairs"
    )

    # (2) append == union build
    grown = dd.minhash_index_append(batch, root)
    union_root = str(tmp_path / "mh_union")
    union_idx = dd.minhash_index_build(corpus, union_root)
    key = lambda r: (r["doc_id"], r["band"], r["v0"], r["v1"], r["bk"])
    assert sorted(map(key, grown.collect())) == sorted(
        map(key, union_idx.collect())
    )

    # (3) scheme drift refuses loudly
    meta_path = _index_child(root, "meta.json")
    meta = json.loads(_fs_read_text(spark, meta_path))
    meta["n_perms"] = 99
    _fs_write_text(spark, meta_path, json.dumps(meta))
    with _pytest.raises(ValueError, match="scheme"):
        dd.minhash_index_query(spark, root, tiny)


def test_hybrid_indexed_vector_pool_prunes_partitions(spark):
    """`hybrid_search_rrf_indexed`'s 100 TB claim as behavior: the vector
    pool is served by the persisted LSH index, so the fused plan's bucket
    scan must carry literal partition filters on BOTH partition columns —
    the hybrid entry inherits lsh_index_query's pruning, it does not
    brute-force the corpus. (The full numPartitions accounting is pinned
    in test_lsh_index_query_scan_prunes_to_probed_buckets; here we pin
    that the pruned scan SURVIVES the fusion composition.)"""
    from wiki_mysql_spark.queries.search import hybrid_search_rrf_indexed

    res = hybrid_search_rrf_indexed(spark, "/root/testdata/sf0.001")
    rows = res.collect()
    assert 0 < len(rows) <= 10
    text = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in text and "tbl#" in text and "bucket#" in text, (
        "the hybrid entry's vector pool must keep the persisted index's "
        "partition pruning"
    )


def test_ivfpq_publish_composition_prunes_partitions(spark, tmp_path):
    """`ivfpq_index_publish`'s claim as behavior: resolving the index root
    THROUGH the CURRENT pointer is pure indirection, plan-wise — the
    code-table scan of a query against `index_current(pointer)` must
    carry the same literal ``cell IN (probed)`` partition filter as a
    query against the root directly (pinned in
    test_ann_index_query_scan_prunes_to_probed_cells), and the results
    must be row-identical. The pointer swap may never cost the pruning."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        index_current,
        index_publish,
        ivfpq_index_build,
        ivfpq_index_query,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    root = str(tmp_path / "annidx")
    ivfpq_index_build(emb, root, n_coarse=8, coarse_iters=2, m=8,
                      n_centroids=16)
    pointer = str(tmp_path / "current.json")
    index_publish(spark, pointer, "/retired/previous-generation")
    index_publish(spark, pointer, root)  # steady-state overwrite swap
    q = emb.where(F.col("vec_id") < 3)
    via_ptr = ivfpq_index_query(
        spark, index_current(spark, pointer), q, k=5, n_probe=2
    )
    rows = via_ptr.collect()
    assert rows, "pointer-resolved query returned nothing"
    text = via_ptr._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell#" in text and " IN (" in text, (
        "the probed-cell partition filter must survive the pointer "
        "indirection"
    )
    direct = ivfpq_index_query(spark, root, q, k=5, n_probe=2)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, direct.collect()))


def test_index_autocompact_policy_all_families(spark, tmp_path):
    """The threshold-gated compaction policy (`index_autocompact`): below the per-partition file-count threshold the
    call is a pure read (pointer untouched, nothing deleted); at the
    threshold it compacts to the new root, swaps the pointer and retires
    the old generation in one move, and a query through the pointer still
    answers. Covers the LSH (`buckets`) and IVFADC (`codes`) layouts (the
    minhash wrapper is driven end to end by the `minhash_index_autocompact`
    registry entry and the loop bench)."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        index_autocompact,
        index_current,
        index_publish,
        ivfpq_index_append,
        ivfpq_index_build,
        ivfpq_index_compact,
        ivfpq_index_query,
        lsh_index_append,
        lsh_index_build,
        lsh_index_compact,
        lsh_index_query,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    q = emb.where(F.col("vec_id") < 3)

    # --- LSH
    root = str(tmp_path / "lsh_gen0")
    lsh_index_build(even, root, dim=64, n_planes=4, n_tables=1)
    lsh_index_append(odd, root)
    pointer = str(tmp_path / "lsh_current.json")
    index_publish(spark, pointer, root)
    rep = index_autocompact(
        spark, pointer, str(tmp_path / "lsh_gen1"), compact=lsh_index_compact,
        subdir="buckets", max_files_per_partition=3,
    )
    assert not rep["compacted"] and index_current(spark, pointer) == root
    want = sorted(map(tuple, lsh_index_query(
        spark, root, q, k=5, probe_bits=1
    ).collect()))
    rep = index_autocompact(
        spark, pointer, str(tmp_path / "lsh_gen1"), compact=lsh_index_compact,
        subdir="buckets", max_files_per_partition=2,
    )
    assert rep["compacted"] and rep["retired"] == [root]
    assert rep["stats_after"]["max_files"] < rep["stats_before"]["max_files"]
    got = sorted(map(tuple, lsh_index_query(
        spark, index_current(spark, pointer), q, k=5, probe_bits=1
    ).collect()))
    assert got == want, "autocompact changed LSH query results"

    # --- IVFADC
    root = str(tmp_path / "pq_gen0")
    ivfpq_index_build(even, root, n_coarse=4, coarse_iters=1, m=8,
                      n_centroids=8)
    ivfpq_index_append(odd, root)
    pointer = str(tmp_path / "pq_current.json")
    index_publish(spark, pointer, root)
    want = sorted(map(tuple, ivfpq_index_query(
        spark, root, q, k=5, n_probe=2
    ).collect()))
    rep = index_autocompact(
        spark, pointer, str(tmp_path / "pq_gen1"), compact=ivfpq_index_compact,
        subdir="codes", max_files_per_partition=2,
    )
    assert rep["compacted"] and rep["retired"] == [root]
    got = sorted(map(tuple, ivfpq_index_query(
        spark, index_current(spark, pointer), q, k=5, n_probe=2
    ).collect()))
    assert got == want, "autocompact changed IVFADC query results"


def test_index_append_matches_union_build_and_frozen_books(spark, tmp_path):
    """Incremental index maintenance — the daily operation of a deployed
    index. LSH: hyperplanes are frozen at build, so build(half A) +
    append(half B) must be row-identical to build(A ∪ B), and the
    persisted-query output must match lsh_topk over the union. IVFADC
    (the FAISS `add` semantics): append encodes with the header's FROZEN
    codebooks — appended rows must byte-match _ivfpq_encode of the same
    rows under those books, and a query over the appended index must rank
    appended vectors."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        _ivfpq_encode,
        ivfpq_index_append,
        ivfpq_index_build,
        ivfpq_index_query,
        lsh_index_append,
        lsh_index_build,
        lsh_index_query,
        lsh_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)

    # --- LSH: append == union build, and query parity with lsh_topk
    inc, full = str(tmp_path / "lsh_inc"), str(tmp_path / "lsh_full")
    lsh_index_build(even, inc, dim=64, n_planes=8, n_tables=2)
    appended = lsh_index_append(odd, inc)
    built = lsh_index_build(emb, full, dim=64, n_planes=8, n_tables=2)
    cols = ["tbl", "bucket", "neighbor_id"]
    assert sorted(map(tuple, appended.select(*cols).collect())) == sorted(
        map(tuple, built.select(*cols).collect())
    )
    q = emb.where(F.col("vec_id") < 3)
    got = sorted(map(tuple, lsh_index_query(
        spark, inc, q, k=5, probe_bits=1
    ).collect()))
    want = sorted(map(tuple, lsh_topk(
        emb, q, k=5, dim=64, n_planes=8, probe_bits=1, n_tables=2
    ).collect()))
    assert got == want

    # --- IVFADC: frozen-book encode parity for the appended half
    ipath = str(tmp_path / "ivfpq_inc")
    ivfpq_index_build(even, ipath, n_coarse=8, coarse_iters=2, m=8, n_centroids=16)
    import json

    from wiki_mysql_spark.operators.similarity import (
        _fs_read_text,
        _index_child,
    )
    meta = json.loads(_fs_read_text(spark, _index_child(ipath, "meta.json")))
    coarse = sorted((int(c), [float(x) for x in v]) for c, v in meta["coarse"])
    books = [
        [(int(c), [float(x) for x in v]) for c, v in b] for b in meta["books"]
    ]
    all_codes = ivfpq_index_append(odd, ipath)
    ccols = ["nid", "cell"] + [f"c{s}" for s in range(8)]
    got_odd = sorted(
        map(tuple, all_codes.where(F.col("nid") % 2 == 1)
            .select(*[F.col(c).cast("long") for c in ccols]).collect())
    )
    want_odd = sorted(
        map(tuple, _ivfpq_encode(
            odd, coarse, books, id_col="vec_id", vec_col="embedding", dim=64
        ).select(*[F.col(c).cast("long") for c in ccols]).collect())
    )
    assert got_odd == want_odd
    # appended vectors are visible to the persisted-query path: an odd
    # query vector must at least rank itself... it is excluded by the
    # family contract, so instead assert SOME odd neighbor appears for a
    # k covering the probed cells
    res = ivfpq_index_query(
        spark, ipath, emb.where(F.col("vec_id") < 2), k=50, n_probe=8
    )
    assert res.where(F.col("neighbor_id") % 2 == 1).count() > 0


def test_index_compact_collapses_files_and_preserves_queries(spark, tmp_path):
    """Layout-preserving index compaction: after build+append every
    touched bucket holds 2 files; compaction collapses each back to ~one
    file under the SAME partition layout with the header copied, and the
    persisted-query output is unchanged. sinks.compact_parquet would
    flatten the directory layout — the index needs its own compactor."""
    import os

    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators.similarity import (
        lsh_index_append,
        lsh_index_build,
        lsh_index_compact,
        lsh_index_query,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "lsh_src")
    lsh_index_build(
        emb.where(F.col("vec_id") % 2 == 0), src, dim=64, n_planes=8,
        n_tables=2,
    )
    lsh_index_append(emb.where(F.col("vec_id") % 2 == 1), src)

    def files_per_bucket(root):
        out = {}
        for tbl in os.listdir(os.path.join(root, "buckets")):
            if not tbl.startswith("tbl="):
                continue
            for b in os.listdir(os.path.join(root, "buckets", tbl)):
                if not b.startswith("bucket="):
                    continue
                n = len([
                    f for f in os.listdir(os.path.join(root, "buckets", tbl, b))
                    if f.endswith(".parquet")
                ])
                out[(tbl, b)] = n
        return out

    before = files_per_bucket(src)
    assert max(before.values()) >= 2, "append must have split some bucket"

    dst = str(tmp_path / "lsh_dst")
    lsh_index_compact(spark, src, dst)
    after = files_per_bucket(dst)
    assert set(after) == set(before), "compaction must keep every bucket dir"
    assert max(after.values()) == 1, f"buckets still split: {after}"

    q = emb.where(F.col("vec_id") < 3)
    got = sorted(map(tuple, lsh_index_query(
        spark, dst, q, k=5, probe_bits=1
    ).collect()))
    want = sorted(map(tuple, lsh_index_query(
        spark, src, q, k=5, probe_bits=1
    ).collect()))
    assert got == want


def test_index_retire_qualified_alias_and_reswap(spark, tmp_path):
    """index_retire's never-delete-the-current guard (r11 advice item):
    (1) a scheme-qualified ALIAS of the current root (file:/x in the
    pointer vs /x in the retire list, or vice versa) must not bypass the
    guard — roots compare by fully-qualified URI, not raw string;
    (2) the pointer is re-read before EACH root's delete, so a publish
    landing mid-loop protects every root after it (the old single
    pre-loop read would have deleted a root the pointer had just been
    swapped back to)."""
    import os

    from wiki_mysql_spark.operators.similarity import (
        index_publish,
        index_retire,
    )

    gen1 = str(tmp_path / "gen1")
    gen2 = str(tmp_path / "gen2")
    for g in (gen1, gen2):
        os.makedirs(g)
        with open(os.path.join(g, "part-0"), "w") as f:
            f.write("x")

    # (1) pointer holds the scheme-qualified spelling; retire list the
    # plain one — the current generation must still be recognized
    pointer = str(tmp_path / "current.json")
    index_publish(spark, pointer, "file:" + gen1)
    deleted = index_retire(spark, pointer, [gen1, gen2])
    assert deleted == [gen2], f"alias must not bypass the guard: {deleted}"
    assert os.path.exists(gen1), "current generation deleted through alias"

    # (2) a pointer swap between two roots' deletes is honored: the
    # retire list is a generator that re-publishes gen2 as CURRENT after
    # the first root is yielded — the per-root re-read must protect it
    os.makedirs(gen2)
    with open(os.path.join(gen2, "part-0"), "w") as f:
        f.write("x")
    gen3 = str(tmp_path / "gen3")
    os.makedirs(gen3)

    def roots_with_midloop_swap():
        yield gen3  # deleted (not current at its re-read)
        index_publish(spark, pointer, gen2)  # concurrent publish lands
        yield gen2  # must now be skipped

    deleted = index_retire(spark, pointer, roots_with_midloop_swap())
    assert deleted == [gen3]
    assert os.path.exists(gen2), (
        "a root published mid-retire must survive — the pointer is "
        "re-read before each delete"
    )


def test_tombstone_gate_probe_cached_until_delete(spark, tmp_path, monkeypatch):
    """The tombstone byte-gate probe is paid once per delete, not once per
    query (r11 advice item — getContentSummary is a recursive listing on
    object-store connectors): repeated reads reuse the cached size, and
    _index_delete invalidates it so the next read re-probes the grown
    set."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    root = str(tmp_path / "lsh_cache")
    sim.lsh_index_build(emb, root, dim=64, n_planes=6)

    calls = []
    real = sim._fs_bytes
    monkeypatch.setattr(
        sim, "_fs_bytes", lambda s, p: (calls.append(p), real(s, p))[1]
    )

    sim.lsh_index_delete(spark, root, [0, 3])
    sim.lsh_index_read(spark, root).count()
    sim.lsh_index_read(spark, root).count()
    assert len(calls) == 1, f"size probed per query, not per delete: {calls}"

    sim.lsh_index_delete(spark, root, [6])
    sim.lsh_index_read(spark, root).count()
    assert len(calls) == 2, "delete must invalidate the cached probe"


def test_minhash_index_read_without_header(spark, tmp_path):
    """A minhash index root without ``meta.json`` (a headerless legacy
    root, or a build that crashed before its header write) reads the same
    live rows through schema inference instead of raising."""
    import os

    from wiki_mysql_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    root = str(tmp_path / "mh_headerless")
    dd.minhash_index_build(docs, root)

    def rows():
        df = dd.minhash_index_read(spark, root)
        assert df.columns == ["doc_id", "band", "v0", "v1", "bk"]
        return sorted(map(tuple, df.collect()))

    with_header = rows()
    assert with_header
    os.remove(os.path.join(root, "meta.json"))
    assert rows() == with_header


def test_minhash_index_delete_query_and_compact_settles(spark, tmp_path):
    """The minhash signature index's DELETE path (r11 verdict item #2 —
    the one index family without takedown support): after
    minhash_index_delete, (1) the pruned query must stop matching the
    dead document immediately (merge-on-read anti-join) while still
    matching live near-duplicates, (2) minhash_index_read must exclude
    the dead rows, and (3) compaction must make the removal physical —
    no tombstones at the new root, dead signatures gone from disk, query
    results identical to the merge-on-read view."""
    import os

    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators import dedup as dd

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    fix = spark.createDataFrame(
        [(900001, "alpha beta gamma delta epsilon zeta eta theta"),
         (900002, "alpha beta gamma delta epsilon zeta eta theta"),
         (900004, "alpha beta gamma delta epsilon zeta eta theta iota")],
        ["doc_id", "text"],
    )
    corpus = docs.unionByName(fix)
    existing = corpus.where(F.col("doc_id") % 2 == 0)
    batch = corpus.where(F.col("doc_id").isin(900001))

    root = str(tmp_path / "mh_del")
    dd.minhash_index_build(existing, root)

    # before the delete: 900001 matches BOTH indexed near-dups
    before = dd.minhash_index_query(
        spark, root, batch, corpus_docs=existing, jaccard_threshold=0.5
    )
    hit = {int(r["doc_indexed"]) for r in before.collect()}
    assert {900002, 900004} <= hit

    # (1) takedown of 900002: it must stop matching; 900004 must keep
    dd.minhash_index_delete(spark, root, [900002])
    after = dd.minhash_index_query(
        spark, root, batch, corpus_docs=existing, jaccard_threshold=0.5
    )
    hit_after = {int(r["doc_indexed"]) for r in after.collect()}
    assert 900002 not in hit_after, "deleted doc still matches"
    assert 900004 in hit_after, "delete removed more than the dead doc"

    # retried delete job is idempotent
    dd.minhash_index_delete(spark, root, [900002])
    again = {
        int(r["doc_indexed"])
        for r in dd.minhash_index_query(
            spark, root, batch, corpus_docs=existing, jaccard_threshold=0.5
        ).collect()
    }
    assert again == hit_after

    # (2) live-row reader excludes the dead doc
    live_ids = {
        int(r["doc_id"])
        for r in dd.minhash_index_read(spark, root).select("doc_id")
        .distinct().collect()
    }
    assert 900002 not in live_ids and 900004 in live_ids

    # (3) compaction settles: tombstones retired, dead rows physically
    # gone, query over the compacted root identical
    cmp_root = str(tmp_path / "mh_cmp")
    compacted = dd.minhash_index_compact(spark, root, cmp_root)
    assert not os.path.exists(os.path.join(cmp_root, "tombstones"))
    on_disk = {int(r["doc_id"]) for r in compacted.select("doc_id").collect()}
    assert 900002 not in on_disk
    cmp_hit = {
        int(r["doc_indexed"])
        for r in dd.minhash_index_query(
            spark, cmp_root, batch, corpus_docs=existing,
            jaccard_threshold=0.5,
        ).collect()
    }
    assert cmp_hit == hit_after


def test_index_rebuild_in_place_clears_prior_tombstones(spark, tmp_path):
    """r12 advice: ``*_index_build`` (and ``*_index_init``) must clear a
    PRIOR generation's tombstones/ dir — tombstones belong to the data
    files they were issued against, never to the root. Without the clear,
    rebuilding in place at a root that previously received deletes
    silently suppresses every rebuilt row whose id was tombstoned in the
    old generation. Pin for all three families: build → delete → rebuild
    in place → the full row set must be live again."""
    from pyspark.sql import functions as F

    from wiki_mysql_spark.operators import dedup as dd
    from wiki_mysql_spark.operators.similarity import (
        ivfpq_index_build,
        ivfpq_index_delete,
        ivfpq_index_read,
        lsh_index_build,
        lsh_index_delete,
        lsh_index_read,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    all_ids = {int(r["vec_id"]) for r in emb.select("vec_id").collect()}

    # --- LSH
    root = str(tmp_path / "lsh")
    lsh_index_build(emb, root, dim=64, n_planes=4, n_tables=1)
    lsh_index_delete(spark, root, sorted(all_ids)[:3])
    lsh_index_build(emb, root, dim=64, n_planes=4, n_tables=1)
    live = {
        int(r["neighbor_id"])
        for r in lsh_index_read(spark, root).select("neighbor_id").collect()
    }
    assert live == all_ids, "stale tombstones suppressed rebuilt LSH rows"

    # --- IVFADC
    root = str(tmp_path / "ivfpq")
    ivfpq_index_build(emb, root, n_coarse=4, coarse_iters=1, m=8,
                      n_centroids=8)
    ivfpq_index_delete(spark, root, sorted(all_ids)[:3])
    ivfpq_index_build(emb, root, n_coarse=4, coarse_iters=1, m=8,
                      n_centroids=8)
    live = {
        int(r["nid"])
        for r in ivfpq_index_read(spark, root).select("nid").collect()
    }
    assert live == all_ids, "stale tombstones suppressed rebuilt IVFADC rows"

    # --- minhash signatures
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(50)
    doc_ids = {int(r["doc_id"]) for r in docs.select("doc_id").collect()}
    root = str(tmp_path / "mh")
    dd.minhash_index_build(docs, root)
    dd.minhash_index_delete(spark, root, sorted(doc_ids)[:3])
    dd.minhash_index_build(docs, root)
    live = {
        int(r["doc_id"])
        for r in dd.minhash_index_read(spark, root).select("doc_id")
        .distinct().collect()
    }
    assert live == doc_ids, "stale tombstones suppressed rebuilt signatures"

    # init (the streaming zero-data start) clears too
    dd.minhash_index_delete(spark, root, sorted(doc_ids)[:3])
    dd.minhash_index_init(spark, root)
    import os

    assert not os.path.exists(os.path.join(root, "tombstones"))


def test_layout_split_key_spreads_files_and_preserves_results(
    spark, tmp_path, monkeypatch
):
    """r14 within-partition split key (`similarity._layout_repartition`):
    with SPARK_GRAFT_LAYOUT_SPLIT > 1, a hot layout directory is written by
    up to `split` tasks (so > 1 file), the on-disk partitionBy layout is
    unchanged, and the queryable rows are IDENTICAL to a split=1 build —
    on a skewed fixture where many docs share one (band, bk) partition."""
    import glob
    import os

    from wiki_mysql_spark.operators import dedup as dd
    from wiki_mysql_spark.operators import similarity as sim

    # skewed fixture: 64 identical texts -> identical signatures -> every
    # band row of every doc lands in the SAME (band, bk) directory
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(64)],
        "doc_id long, text string",
    )

    root_plain = str(tmp_path / "mh_plain")
    dd.minhash_index_build(docs, root_plain)

    monkeypatch.setattr(sim, "_LAYOUT_SPLIT_FILES", 4)
    root_split = str(tmp_path / "mh_split")
    dd.minhash_index_build(docs, root_split)

    rows_plain = {
        tuple(r)
        for r in dd.minhash_index_read(spark, root_plain)
        .select("doc_id", "band", "v0", "v1", "bk").collect()
    }
    rows_split = {
        tuple(r)
        for r in dd.minhash_index_read(spark, root_split)
        .select("doc_id", "band", "v0", "v1", "bk").collect()
    }
    assert rows_split == rows_plain and rows_plain

    # same directory layout either way; the hot directories gain files
    def dirs(root):
        return sorted(
            os.path.relpath(d, root)
            for d in glob.glob(os.path.join(root, "bands", "band=*", "bk=*"))
        )

    assert dirs(root_split) == dirs(root_plain)

    def max_files(root):
        return max(
            len(glob.glob(os.path.join(d, "*.parquet")))
            for d in glob.glob(os.path.join(root, "bands", "band=*", "bk=*"))
        )

    assert max_files(root_plain) == 1
    assert max_files(root_split) > 1
