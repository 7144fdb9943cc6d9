"""Fuzzy-dedup blocking: distinct-name contraction + composed key (r6).

Pins the r5 verdict's ordered fix for the one remaining scale-killer (the
first-token blocking key's Θ(Σ block²) growth): (1) the contracted,
composed-key candidate generation is RESULT-IDENTICAL to the naive
first-token-blocked row self-join; (2) the (token, length-bucket)
composition with own+next-bucket probing is lossless for any pair within
max edit distance (bucket width 4 > 3); (3) comparison work is bounded by
DISTINCT names, not rows — repeated values (the exact mechanism that made
blocks grow O(n) under a bounded vocabulary) no longer add comparisons.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from wiki_mysql_spark.operators.dedup import (
    FUZZY_BUCKET_W,
    FUZZY_MAX_DIST,
    fuzzy_name_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


def _naive_pairs(rows: list[tuple[int, str]], max_dist: int = 3):
    """Reference semantics: same first token, |len delta| <= d, lev <= d."""

    def lev(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    out = set()
    for i, (ka, na) in enumerate(rows):
        for kb, nb in rows[i + 1 :]:
            lo, hi = (ka, kb) if ka < kb else (kb, ka)
            lon, hin = (na, nb) if ka < kb else (nb, na)
            if (
                na.split(" ")[0] == nb.split(" ")[0]
                and abs(len(na) - len(nb)) <= max_dist
                and lev(na, nb) <= max_dist
            ):
                out.add((lo, hi, lon, hin))
    return out


def test_bucket_width_exceeds_max_dist():
    # the losslessness proof requires W > d: |len(a)-len(b)| <= d < W
    # implies floor(len/W) buckets are equal or adjacent
    assert FUZZY_BUCKET_W > FUZZY_MAX_DIST


def test_name_pairs_match_naive_blocked_join(spark):
    """fuzzy_name_pairs over a corpus with heavy value repetition, hot
    first-token blocks, no-space names, and short strings reproduces the
    naive O(n²)-within-block reference exactly after row expansion."""
    vocab = [
        "red bolt", "red bolts", "red colt", "red gear",
        "big wheel", "big whale", "bigwheel",  # no-space token = whole name
        "x", "xy", "xyz",  # tiny strings straddling bucket 0
        "blue anvil spring", "blue anvil springs",
    ]
    rng = random.Random(11)
    rows = [(i, vocab[rng.randrange(len(vocab))]) for i in range(400)]
    df = spark.createDataFrame(rows, "p_partkey long, p_name string")
    und = fuzzy_name_pairs(df, name_col="p_name")
    got_names = {(r["an"], r["bn"], r["dist"]) for r in und.collect()}

    # name-level reference over DISTINCT values (an < bn)
    distinct = sorted(set(n for _, n in rows))
    ref = set()
    for i, a in enumerate(distinct):
        for b in distinct[i + 1 :]:
            if _naive_pairs([(0, a), (1, b)]):
                ref.add((a, b))
    assert {(a, b) for a, b, _ in got_names} == ref

    # full row-level expansion equals the naive row-pair set
    exp = set()
    by_name: dict[str, list[int]] = {}
    for k, n in rows:
        by_name.setdefault(n, []).append(k)
    directed = {(a, b) for a, b, _ in got_names} | {
        (b, a) for a, b, _ in got_names
    } | {(n, n) for n in by_name}
    for an, bn in directed:
        for ka in by_name.get(an, []):
            for kb in by_name.get(bn, []):
                if ka < kb:
                    exp.add((ka, kb, an, bn))
    assert exp == _naive_pairs(rows)


def test_bucket_probing_lossless_under_random_edits(spark):
    """Property: for random strings and <= max_dist random edits, the
    composed-key candidate generation always finds the pair — i.e. the
    length-bucket probe (own + next bucket, keep at greatest native bucket)
    cannot lose a qualifying pair. 60 seeded trials."""
    rng = random.Random(7)
    alphabet = "abcdef"
    cases = []
    for t in range(60):
        base = "tok " + "".join(
            rng.choice(alphabet) for _ in range(rng.randrange(3, 20))
        )
        s = base
        for _ in range(rng.randrange(0, FUZZY_MAX_DIST + 1)):
            op = rng.choice("ids")
            # never touch the first token (the contract requires it equal)
            pos = rng.randrange(4, len(s) + 1) if len(s) > 4 else 4
            if op == "i":
                s = s[:pos] + rng.choice(alphabet) + s[pos:]
            elif op == "d" and pos < len(s):
                s = s[:pos] + s[pos + 1 :]
            elif pos < len(s):
                s = s[:pos] + rng.choice(alphabet) + s[pos + 1 :]
        if s != base:
            cases.append((2 * t, base, 2 * t + 1, s))
    rows = [(k, n) for a, na, b, nb in cases for k, n in ((a, na), (b, nb))]
    df = spark.createDataFrame(rows, "p_partkey long, p_name string")
    got = {
        (r["an"], r["bn"])
        for r in fuzzy_name_pairs(df, name_col="p_name").collect()
    }
    for _, base, _, s in cases:
        lo, hi = min(base, s), max(base, s)
        assert (lo, hi) in got, (base, s)


def test_comparison_work_bounded_by_distinct_names(spark):
    """The scale claim itself: candidate comparisons are a function of
    DISTINCT names. sf0.001..sf0.1 share one ~64-name vocabulary, so the
    name-pair set must be IDENTICAL across SFs even though row counts grow
    100x (and row-level Σ block² grew 10,000x under the r5 key)."""
    from wiki_mysql_spark.sources.tables import load_table

    pair_sets = {}
    for sf in ("0.001", "0.1"):
        p = load_table(spark, f"/root/testdata/sf{sf}", "part").select(
            "p_partkey", "p_name"
        )
        und = fuzzy_name_pairs(p, name_col="p_name")
        pair_sets[sf] = {(r["an"], r["bn"]) for r in und.collect()}
    assert pair_sets["0.001"] <= pair_sets["0.1"]
    # max composed-block size over distinct names stays tiny vs the
    # first-token ROW blocks the r5 key produced (2,572 rows at sf0.1)
    p = load_table(spark, "/root/testdata/sf0.1", "part")
    names = (
        p.select("p_name").distinct()
        .select(
            F.split("p_name", " ").getItem(0).alias("tok"),
            F.floor(F.length("p_name") / FUZZY_BUCKET_W).alias("bkt"),
        )
        .groupBy("tok", "bkt")
        .count()
    )
    max_block = names.agg(F.max("count")).collect()[0][0]
    row_block = (
        p.groupBy(F.split("p_name", " ").getItem(0)).count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert max_block * 50 < row_block, (max_block, row_block)


def test_connected_components_raises_when_unconverged(spark, monkeypatch):
    """ADVICE r5: a component whose contracted diameter exceeds max_rounds
    must FAIL LOUDLY, not return silently-wrong labels. The r14 driver-side
    union-find gate is forced OFF (edge bound 0) so this pins the
    DISTRIBUTED propagation's divergence guard."""
    from wiki_mysql_spark.operators import graph
    from wiki_mysql_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "_CC_DRIVER_EDGE_ROWS", 0)
    # strictly descending path 100 -> 99 -> ... -> 0: every node's 1-hop
    # minimum is its successor, so small-star contraction cannot shorten
    # it — propagation needs ~n rounds to reach 0
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=2).collect()
    # and a sufficient budget converges to the true minimum everywhere
    # (plain min-label propagation covers one hop per round, so a short
    # path fits the budget; the guard exists precisely because a LONG one
    # doesn't)
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src long, dst long"
    )
    ok = connected_components(short, max_rounds=32)
    labels = {r["node"]: r["label"] for r in ok.collect()}
    assert set(labels.values()) == {0}


def test_connected_components_driver_gate_parity(spark, monkeypatch):
    """r14 gate equivalence: the driver-side union-find and the distributed
    small-star + min-label propagation must produce IDENTICAL (node, label)
    rows — chain, cycle, self-loop, two components, both edge directions."""
    from wiki_mysql_spark.operators import graph
    from wiki_mysql_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [
            (5, 4), (4, 3),          # chain, reversed direction
            (10, 11), (11, 12), (12, 10),  # cycle
            (20, 20),                # self-loop singleton
            (31, 30),                # separate component
        ],
        "src long, dst long",
    )
    got_driver = {
        (r["node"], r["label"]) for r in connected_components(edges).collect()
    }
    monkeypatch.setattr(graph, "_CC_DRIVER_EDGE_ROWS", 0)
    got_dist = {
        (r["node"], r["label"]) for r in connected_components(edges).collect()
    }
    assert got_driver == got_dist
    assert got_driver == {
        (3, 3), (4, 3), (5, 3),
        (10, 10), (11, 10), (12, 10),
        (20, 20),
        (30, 30), (31, 30),
    }


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_sorted_neighborhood_complete_at_full_window(spark):
    """With window >= the distinct count, every pair lands inside the window
    of the forward pass, so the result must equal the FULL all-pairs
    levenshtein <= 3 set — no blocking approximation survives."""
    from wiki_mysql_spark.operators.dedup import sorted_neighborhood_pairs

    rng = random.Random(7)
    base = ["spark graft", "spark graff", "park graft", "sparq graft",
            "lemon tree", "lemon trees", "melon tree", "wholly other"]
    rows = [(i, rng.choice(base) if rng.random() < 0.5 else
             "".join(rng.choice("abcdef ") for _ in range(rng.randint(4, 12))))
            for i in range(60)]
    df = spark.createDataFrame(rows, "id long, nm string")
    got = {
        (r["an"], r["bn"], r["dist"])
        for r in sorted_neighborhood_pairs(
            df, name_col="nm", window=10_000, max_dist=3
        ).collect()
    }
    names = sorted({nm for _, nm in rows})
    want = {
        (a, b, _lev(a, b))
        for i, a in enumerate(names)
        for b in names[i + 1:]
        if abs(len(a) - len(b)) <= 3 and _lev(a, b) <= 3
    }
    assert got == want and want  # non-vacuous


def test_sorted_neighborhood_reverse_pass_catches_leading_edits(spark):
    """A pair differing only in the FIRST character defeats first-token
    blocking AND can sit far apart in the forward sort — the reversed-string
    pass puts shared suffixes adjacent. This is the multi-pass rationale."""
    from wiki_mysql_spark.operators.dedup import sorted_neighborhood_pairs

    # 'aaa zebra suffix' vs 'zzz zebra suffix'... too far (3 edits on the
    # token). Use one leading-char edit with many forward-order separators.
    names = [("a shared suffix",), ("b shared suffix",)] + [
        (f"a{c} wholly unrelated {c}",) for c in "bcdefghijklmnop"
    ]
    df = spark.createDataFrame(names, "nm string")
    out = sorted_neighborhood_pairs(df, name_col="nm", window=3, max_dist=3)
    pairs = {(r["an"], r["bn"]) for r in out.collect()}
    assert ("a shared suffix", "b shared suffix") in pairs
    # and the composed-key generator (first token) misses it by design
    fz = {
        (r["an"], r["bn"])
        for r in fuzzy_name_pairs(df, name_col="nm").collect()
    }
    assert ("a shared suffix", "b shared suffix") not in fz


def test_sorted_neighborhood_deterministic_across_partitioning(spark):
    """Rank assignment (dense_ids) and pair recovery must not leak partition
    placement into the result."""
    from wiki_mysql_spark.operators.dedup import sorted_neighborhood_pairs

    p = spark.read.parquet(f"{SF_DIR}/part.parquet").select("p_name")
    a = sorted(map(tuple, sorted_neighborhood_pairs(
        p, name_col="p_name").collect()))
    b = sorted(map(tuple, sorted_neighborhood_pairs(
        p.repartition(7), name_col="p_name").collect()))
    assert a == b and a


def test_triangle_count_dense_and_sparse_paths_agree(spark, monkeypatch):
    """r14 dense-regime bitset gate: dense (small integral id domain) and
    sparse (forced via domain bound 0) paths must return the identical
    (n_nodes, n_edges, n_triangles) row; non-integral node ids always take
    the sparse path without error."""
    from wiki_mysql_spark.operators import graph
    from wiki_mysql_spark.operators.graph import triangle_count

    # K4 plus a pendant edge: C(4,3)=4 triangles, 7 edges, 5 nodes
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(3, 10)],
        "src long, dst long",
    )
    dense_row = triangle_count(edges).collect()[0]
    monkeypatch.setattr(graph, "_TRI_DENSE_DOMAIN", 0)
    sparse_row = triangle_count(edges).collect()[0]
    assert tuple(dense_row) == tuple(sparse_row) == (5, 7, 4)
    monkeypatch.undo()

    # string node ids: integral-dtype guard keeps the sparse path working
    s_edges = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("x", "z")], "src string, dst string"
    )
    assert tuple(triangle_count(s_edges).collect()[0]) == (3, 3, 1)
