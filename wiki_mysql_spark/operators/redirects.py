"""Transitive redirect resolution to a fixpoint (SURVEY.md A3).

The reference resolves each redirect by per-title recursion over three
driver-resident dicts (``/root/reference/dbfy.py:108-121,155-176``) — O(chain
length) hops per title, all titles in driver RAM, cycles caught by
``RecursionError`` and dropped, dangling targets silently dropped.

Here the redirect graph is a DataFrame of edges and resolution is **pointer
doubling**: each round substitutes every title's current target with that
target's own target, squaring the distance covered. A chain of depth d
resolves in ceil(log2(d)) self-joins instead of d — at 100 TB that is ~10
shuffles for even pathological chains instead of thousands. Cycles never
reach a terminal node, so after the iteration bound any title whose final
target is still a redirect source is dropped — byte-identical semantics to
the reference's RecursionError/dangling drops.

``localCheckpoint`` truncates lineage each round; without it the plan tree
doubles per iteration and Catalyst analysis itself becomes the bottleneck.
"""

from __future__ import annotations

import math
from collections.abc import Iterable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Edge sets whose leaf inputs are estimated below this resolve driver-side
# (one collect + one local frame) instead of via the doubling loop. The exact
# analog of a broadcast-join threshold: the DATA decides the physical
# strategy, the semantics are identical (tested both ways). Real corpora
# blow past this (enwiki has ~10M redirect rows) and take the doubling path.
_SMALL_EDGES_BYTES = 8 << 20


def _depth_rounds(max_depth: int) -> int:
    """Doubling rounds that cover ``max_depth`` hops: the pointer-doubling
    loop covers exactly ``2 ** rounds`` hops, so every strategy bounds
    chains by that rounded figure."""
    return max(1, math.ceil(math.log2(max_depth)))


def resolve_chains(
    edges: Iterable[tuple[str | None, str | None]], max_depth: int
) -> dict[str, str | None]:
    """Driver-side chain walk — the reference's own algorithm
    (``dbfy.py:108-121``) minus the recursion: ``{src: terminal}`` for every
    redirect source whose chain reaches a non-redirect title (an article or
    a dangling target) within ``max_depth`` hops, rounded up the way
    :func:`resolve_redirects` rounds it. Cycle members and over-depth chains
    get no entry (RecursionError -> None); a null source never matches, as
    in a join. A source listed twice keeps its last target."""
    eff_depth = 1 << _depth_rounds(max_depth)
    nxt = {src: dst for src, dst in edges if src is not None}
    out: dict[str, str | None] = {}
    for src in nxt:
        seen: set[str] = set()
        cur = src
        while cur in nxt and cur not in seen and len(seen) <= eff_depth:
            seen.add(cur)
            cur = nxt[cur]
        if cur not in nxt and len(seen) <= eff_depth:
            out[src] = cur
    return out


def _resolve_small(edges: DataFrame, max_depth: int) -> DataFrame:
    """:func:`resolve_chains` over a tiny edge set: one collect in, zero
    fixpoint jobs. The ``(src, dst)`` mapping comes back as one Arrow-built
    local frame (:func:`~wiki_mysql_spark.sources.tables.local_frame`, a
    ``LocalTableScan`` with ``edges``' schema), not a parallelized list, so
    the joins that read it start no Python worker. Gated by
    :data:`_SMALL_EDGES_BYTES`.
    """
    from wiki_mysql_spark.sources.tables import local_frame

    ends = resolve_chains(
        ((r["src"], r["dst"]) for r in edges.collect()), max_depth
    )
    return local_frame(edges.sparkSession, list(ends.items()), edges.schema)


def resolve_redirects(
    redirects: DataFrame,
    targets: DataFrame,
    *,
    max_depth: int = 1024,
) -> DataFrame:
    """Resolve redirect chains transitively.

    Args:
        redirects: edges ``(title, target)`` — one row per redirect page.
            Extra columns (e.g. ``aid``) are carried through untouched.
        targets: resolvable endpoints ``(title, body_id)`` — the loaded
            articles (the reference's ``ttl2bid``, ``dbfy.py:183-186``).
        max_depth: depth bound, rounded UP to the next power of two (the
            pointer-doubling loop's natural granularity — callers get AT
            LEAST max_depth); chains longer than the rounded bound are
            dropped. Both physical strategies apply the SAME rounded bound,
            so the small/driver path and the distributed path agree on
            results for every input. (The reference's implicit bound is
            Python's recursion limit, ~1000.)

    Returns:
        ``redirects``'s carried columns + ``body_id`` for every redirect
        whose chain ends in a loaded article. Cycle members and dangling
        chains produce no row (``dbfy.py:118-121,161-166``).
    """
    # ONE effective bound for both strategies (_depth_rounds), or the two
    # plans would disagree on chains in (max_depth, 2^ceil(log2(max_depth))]
    rounds = _depth_rounds(max_depth)
    edges = redirects.select(
        F.col("title").alias("src"), F.col("target").alias("dst")
    )

    def attach(mapping: DataFrame) -> DataFrame:
        # (src, terminal dst) -> redirects' columns + the dst's body_id;
        # the inner join drops dangling terminals
        resolved = mapping.join(
            targets.select(F.col("title").alias("t_title"), "body_id"),
            mapping.dst == F.col("t_title"),
            "inner",
        ).select(F.col("src"), "body_id")
        return redirects.join(
            resolved, redirects.title == resolved.src, "inner"
        ).drop("src")

    # Materialize BEFORE the size gate: both strategies consume `edges`
    # repeatedly (the small path collects it, the doubling loop joins it
    # every round), and checkpointing first makes the gate's probe jobs
    # read the materialized blocks instead of re-running the upstream
    # XML/cleaning DAG per probe (measured ~3s of re-execution per probe
    # at sf0.1 before this ordering). Strategy only; both paths are pinned
    # result-identical in tests.
    edges = edges.localCheckpoint(eager=True)
    from wiki_mysql_spark.sources.tables import is_small_input

    # byte_probe: this gate feeds a DRIVER-side collect (_resolve_small), so
    # a narrow-count frame of pathologically wide titles must not slip
    # through on row count alone; the sampled byte estimate reads the
    # checkpoint, not the upstream DAG.
    if is_small_input(edges, max_bytes=_SMALL_EDGES_BYTES, byte_probe=True):
        return attach(_resolve_small(edges, max_depth))
    # referenced by every is_open/is_closed split (2 per round + 2 final):
    # checkpoint once instead of re-running the distinct aggregation each
    # time. Tiny relative to the edge set (one row per redirect title).
    sources = (
        edges.select(F.col("src").alias("open_src")).distinct()
        .localCheckpoint(eager=False)
    )

    # Invariant per round r: `chained` rows still point at a redirect source
    # after following 2^r hops; `done` rows have reached a terminal (article
    # or dangling) dst. Pointer doubling: substitute each dst with that
    # row's own current dst, doubling covered distance every round.
    #
    # Early exit: along an acyclic chain every remaining head has some
    # distance-to-terminal in (2^r, 2^(r+1)], and the minimal one always
    # falls in range — so each round terminalizes at least one acyclic row.
    # A round with NO progress therefore proves everything left is cyclic,
    # and cycles are dropped by the reference's semantics anyway
    # (RecursionError -> None, dbfy.py:118-121).
    is_open = lambda df: df.join(  # noqa: E731
        sources, df.dst == F.col("open_src"), "left_semi"
    )
    is_closed = lambda df: df.join(  # noqa: E731
        sources, df.dst == F.col("open_src"), "left_anti"
    )

    done_parts = [is_closed(edges)]
    chained = is_open(edges)
    # No up-front count: the first doubling round runs unconditionally (its
    # own count doubles as the materializing action), saving one job on
    # every invocation — the empty/trivial case costs the same either way.
    prev_n: int | None = None
    for _ in range(rounds):
        if prev_n == 0:
            break
        # the doubling step joins `chained` against the CURRENT cumulative
        # mapping (done ∪ chained) — that's what squares covered distance
        mapping = reduce(DataFrame.unionByName, [*done_parts, chained])
        hop = mapping.select(F.col("src").alias("h_src"), F.col("dst").alias("h_dst"))
        stepped = (
            chained.join(hop, chained.dst == hop.h_src, "left")
            .select("src", F.coalesce("h_dst", "dst").alias("dst"))
            .localCheckpoint(eager=False)  # n.count() materializes
        )
        done_parts.append(is_closed(stepped))
        chained = is_open(stepped)
        n = chained.count()
        if n == prev_n:
            break  # no progress => only cycles remain; drop them
        prev_n = n

    return attach(reduce(DataFrame.unionByName, done_parts))
