"""The wiki ETL end-to-end (SURVEY.md §3.1 — the reference's actual workload).

Reference lifecycle (``/root/reference/dbfy.py:254-313``): stream pages ->
per-page ``_process`` (redirect branch / clean+insert branch, ``dbfy.py:
123-153``) -> driver-resident redirect maps -> single-threaded redirect pass
(``dbfy.py:155-176``). Two tables out: ``bodies(id, body)`` and
``articles(id, aid, title, body->bodies.id)`` (``sql/init.sql:5-19``).

Spark plan — one scan, one staged materialization, then one of two plans
picked by a probe of the staged frame's size:

    pages ──ns filter + F7 split + clean F1-F6──> staged (aid, title,
        is_redirect, redirect_target, body_text, body_octets[, corrupt])

    driver (small staged frame):
    staged ──one Arrow collect──> driver: body ids, redirect walk [A3],
        article ids, quarantine rules ──> Arrow articles / bodies /
        quarantine ──pyarrow parquet, no Spark job──> articles, quarantine
        sinks;  local bodies frame ──Spark write──> bodies sink

    distributed:
    staged ──dense ids──> bodies ⋈ text;  redirects ──pointer-doubling
        fixpoint [A3]──> extra article rows ──dense ids──> articles
        ──split_quarantine──> articles_ok / bodies_ok / quarantine

A warm ``run_wiki_etl`` on the driver plan runs 2 Spark jobs: the
collect, which computes the staged frame (a probe job runs before it only
when plan statistics cannot size the frame), and the bodies write. All
three tables are built on the driver; the driver writes ``articles`` and
``quarantine`` itself (:func:`~wiki_mysql_spark.sinks.write_arrow_parquet`),
and Spark writes ``bodies`` from a local frame of the collected rows, so
the one wide table keeps the multi-file layout of a Spark write. The
distributed plan writes all three tables with Spark, and adds the id
sorts, the fixpoint rounds and the quarantine joins.

Differences from the reference, by design:
  * ids are deterministic (ordered by title) instead of insertion-ordered —
    dump order is not reproducible under parallel scan anyway.
  * failed rows would be quarantined, not silently dropped (the reference
    drops on any insert error, ``dbfy.py:142-143``).
"""

from __future__ import annotations

import sys
import weakref
from collections.abc import Callable
from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from wiki_mysql_spark.functions.cleaning import (
    clean_wiki_body,
    extract_redirect_target,
    is_redirect_body,
)
from wiki_mysql_spark.operators.ids import dense_ids
from wiki_mysql_spark.operators.redirects import resolve_redirects

if TYPE_CHECKING:
    import pyarrow as pa

# Byte bound of the staged frame for the driver plan, which collects all of
# it, text included: 8 MB, the bound of the distributed path's tightest
# driver collect (redirects._SMALL_EDGES_BYTES).
_STAGED_SMALL_BYTES = 8 << 20
# The known-stats branch sees COMPRESSED on-disk leaf bytes while the bound
# is on estimated IN-MEMORY octet lengths; parquet+zstd wiki text expands
# ~3-5x on decode, so the driver plan is only picked when the compressed
# leaves are under bound/4 — a staged frame in the ambiguous band
# (bound/4 .. bound) takes the distributed plan, whose gates probe their
# own in-memory inputs (a <8MB-compressed frame must not smuggle a >8MB
# frame into a driver collect).
_COMPRESSION_EXPANSION = 4

# The staged cleaning Column per SparkContext, by option set. Building it
# takes ~2,000 py4j round trips, so later calls reuse the first call's.
# Weak keys: a stopped context's Columns, which hold its JVM's objects,
# are never handed to another context.
_CLEANING: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _cleaned_text(
    context, remove_html, valid_unicodes, invalid_unicodes, exact_templates
) -> Column:
    """``clean_wiki_body(coalesce(text, ''), ...)``, built once per
    ``context`` (the session's SparkContext) and option set."""
    key = (remove_html, valid_unicodes, invalid_unicodes, exact_templates)
    built = _CLEANING.setdefault(context, {})
    if key not in built:
        built[key] = clean_wiki_body(
            F.coalesce(F.col("text"), F.lit("")),
            remove_html=remove_html,
            valid_unicodes=valid_unicodes,
            invalid_unicodes=invalid_unicodes,
            exact_templates=exact_templates,
        )
    return built[key]


class _WikiFrames(NamedTuple):
    """The wiki build's outputs: ``articles`` and ``bodies`` (id, body,
    body_octets) are the whole tables, the ``*_ok`` frames and
    ``quarantine`` their :func:`~wiki_mysql_spark.sinks.split_quarantine`
    split, with the staged frame's corrupt captures in ``quarantine``.
    ``plan`` names the plan the staged probe picked. The driver plan's
    tables are Arrow tables (see :func:`_frame`), the distributed plan's
    are DataFrames."""

    plan: str
    articles: DataFrame | pa.Table
    bodies: DataFrame | pa.Table
    articles_ok: DataFrame | pa.Table
    bodies_ok: DataFrame | pa.Table
    quarantine: DataFrame | pa.Table


def _frame(spark, table: DataFrame | pa.Table) -> DataFrame:
    """``table`` as a DataFrame: a driver-built ``pyarrow.Table`` becomes a
    local frame with its own schema, a DataFrame passes through."""
    if isinstance(table, DataFrame):
        return table
    from pyspark.sql.pandas.types import from_arrow_schema

    from wiki_mysql_spark.sources.tables import local_frame

    return local_frame(spark, table, from_arrow_schema(table.schema))


def _corrupt_rows(df: DataFrame) -> DataFrame:
    """Quarantine rows for the corrupt page records of ``df``."""
    return df.where(F.col("corrupt_record").isNotNull()).select(
        F.lit("pages").alias("table_name"),
        F.lit(None).cast("long").alias("id"),
        _corrupt_reason().alias("reject_reason"),
    )


def _corrupt_reason() -> Column:
    return F.concat(
        F.lit("corrupt xml record: "), F.substring("corrupt_record", 1, 200)
    )


def _build_wiki_frames(
    pages: DataFrame,
    *,
    remove_html: bool = True,
    valid_unicodes: tuple[tuple[int, int], ...] = (),
    invalid_unicodes: tuple[tuple[int, int], ...] = (),
    max_redirect_depth: int = 1024,
    exact_templates: bool = False,
    materializer: Callable[[DataFrame, str], DataFrame] | None = None,
) -> _WikiFrames:
    """The wiki build, split and quarantined: see :class:`_WikiFrames`.

    Scratch-IO design (the r8 rework — r7's 24M-page throughput dip was
    scratch-IO amplification): the ONLY full-text materialization is the
    ``staged`` frame — parse + redirect split + cleaning fused into one
    pass, holding CLEANED text once (raw text never lands on scratch).
    On the distributed plan everything downstream of ``staged`` is narrow
    except exactly one join that re-attaches the text to its body id by
    aid; body_octets is computed AT STAGING so the quarantine split is a
    narrow column read.

    ``materializer``: optional ``(df, name) -> df`` that pins the staged
    frame somewhere durable (run_wiki_etl passes its byte-gated
    memory-or-parquet strategy); defaults to a block-manager
    localCheckpoint. If ``pages`` carries a ``corrupt_record`` column
    (project_pages_with_corrupt), corrupt captures ride through the same
    single materialization into ``quarantine``.

    One probe of the staged frame picks the plan (bound:
    :data:`_STAGED_SMALL_BYTES`, row cap ``PROBE_ROWS``):

      * ``driver`` (small corpus): one Arrow collect of the staged frame,
        text included, then ids, the redirect walk and the quarantine
        rules run on the driver (:func:`_driver_frames`), which returns
        every table as an Arrow table;
      * ``distributed``: ``dense_ids`` and ``resolve_redirects`` size
        their own inputs, and the split is
        :func:`~wiki_mysql_spark.sinks.split_quarantine`
        (:func:`_distributed_frames`).

    The written tables are row- and schema-identical either way (pinned in
    tests)."""
    # A dump that arrives as a single split (one modest .bz2 file — Spark's
    # XML source reads a compressed file whole) would serialize every
    # downstream stage; spread it across the cluster once up front. Bytes-
    # gated (plan statistics, no job) so tiny fixtures skip the exchange;
    # no-op when the source is already parallel (many part files at scale).
    from wiki_mysql_spark.sources.tables import spread_small_scan

    pages = spread_small_scan(pages)

    has_attr = "redirect_title" in pages.columns
    has_corrupt = "corrupt_record" in pages.columns
    attr = F.col("redirect_title") if has_attr else F.lit(None).cast("string")
    text = F.coalesce(F.col("text"), F.lit(""))  # null revision text -> ""
    cleaned = _cleaned_text(
        pages.sparkSession.sparkContext,
        remove_html,
        valid_unicodes,
        invalid_unicodes,
        exact_templates,
    )
    # eqNullSafe: corrupt rows carry null ns and must not look like pages
    is_page = F.col("ns").eqNullSafe(0)
    # Redirect iff the dump attribute says so OR the body matches the
    # anchored pattern — including an empty [[]] target, which stays a
    # redirect (and then never resolves), matching dbfy.py:129-134.
    is_red = attr.isNotNull() | is_redirect_body(text)
    keep = is_page
    if has_corrupt:
        keep = keep | F.col("corrupt_record").isNotNull()
    cols = [
        F.col("aid"),
        F.col("title"),
        (is_page & is_red).alias("is_redirect"),
        F.when(
            is_page & is_red, F.coalesce(attr, extract_redirect_target(text))
        ).alias("redirect_target"),
        # cleaning runs HERE, fused into the staging pass — the staged
        # write is the parse's single consumer, and the cleaned body (the
        # only full-text column kept) is what materializes
        F.when(is_page & ~is_red, cleaned).alias("body_text"),
    ]
    if has_corrupt:
        cols.append(F.col("corrupt_record"))
    staged = (
        pages.where(keep)
        .select(*cols)
        .withColumn("body_octets", F.octet_length("body_text"))
    )
    staged = (
        materializer(staged, "staged")
        if materializer is not None
        else staged.localCheckpoint(eager=False)
    )

    # One bounded probe job on the checkpointed staged frame (or a free
    # stats read when a materializer made it a scan) sizes the whole build:
    # every later frame is a projection/filter/union of staged's rows.
    from wiki_mysql_spark.sources.tables import PROBE_ROWS, leaf_bytes, probe_size

    known, unknown = leaf_bytes(staged)
    if not unknown and known is not None:
        small = known * _COMPRESSION_EXPANSION < _STAGED_SMALL_BYTES
    else:
        n, size = probe_size(staged)
        small = n <= PROBE_ROWS and size < _STAGED_SMALL_BYTES
    build = _driver_frames if small else _distributed_frames
    return build(staged, has_corrupt, max_redirect_depth)


def _driver_frames(
    staged: DataFrame, has_corrupt: bool, max_redirect_depth: int
) -> _WikiFrames:
    """The driver plan: ONE Arrow collect of the staged columns, the
    cleaned text included (the staged probe admitted at most
    :data:`_STAGED_SMALL_BYTES` of it), then body ids ordered by title, the
    redirect walk
    (:func:`~wiki_mysql_spark.operators.redirects.resolve_chains`, the same
    rounded depth bound as the distributed fixpoint), article ids ordered
    by (title, aid) and the quarantine rules
    (:func:`~wiki_mysql_spark.sinks.split_quarantine_rows`) as plain
    Python. Every table is an Arrow table built by
    :func:`~wiki_mysql_spark.sources.tables.arrow_table`, so no join
    re-attaches the text. Ties sort nulls first, like Spark's ascending
    sort."""
    from pyspark.sql.types import LongType, StructField, StructType

    from wiki_mysql_spark.operators.redirects import resolve_chains
    from wiki_mysql_spark.sinks import split_quarantine_rows
    from wiki_mysql_spark.sources.tables import arrow_table

    cols = ["aid", "title", "is_redirect", "redirect_target", "body_text",
            "body_octets"]
    if has_corrupt:
        cols.append(_corrupt_reason().alias("corrupt_reason"))
    rows = staged.select(*cols).toArrow().to_pylist()

    def asc(*vals):
        return tuple((v is not None, v) for v in vals)

    # (body id, row) for each page with a cleaned body, numbered by title
    with_body = (r for r in rows if r["body_octets"] is not None)
    by_title = sorted(with_body, key=lambda r: asc(r["title"], r["aid"]))
    pages = list(enumerate(by_title, 1))
    body_ids: dict[str, list[int]] = {}
    for bid, r in pages:
        if r["title"] is not None:
            body_ids.setdefault(r["title"], []).append(bid)
    redirects = [r for r in rows if r["is_redirect"]]
    ends = resolve_chains(
        ((r["title"], r["redirect_target"]) for r in redirects),
        max_redirect_depth,
    )
    unnumbered = [(r["aid"], r["title"], bid) for bid, r in pages]
    unnumbered += [
        (r["aid"], r["title"], bid)
        for r in redirects
        if r["title"] in ends
        for bid in body_ids.get(ends[r["title"]], ())
    ]
    unnumbered.sort(key=lambda a: asc(a[1], a[0]))
    articles = [(i, *a) for i, a in enumerate(unnumbered, 1)]
    articles_ok, bad_bodies, quarantine = split_quarantine_rows(
        articles, {bid: r["body_octets"] for bid, r in pages}
    )
    if has_corrupt:
        quarantine += [
            ("pages", None, r["corrupt_reason"])
            for r in rows
            if r["corrupt_reason"] is not None
        ]

    long_ = lambda name: StructField(name, LongType(), False)  # noqa: E731
    art_schema = StructType(
        [long_("id"), staged.schema["aid"], staged.schema["title"], long_("body")]
    )
    bodies = [(bid, r["body_text"], r["body_octets"]) for bid, r in pages]
    return _WikiFrames(
        plan="driver",
        articles=arrow_table(articles, art_schema),
        bodies=arrow_table(
            bodies, "id long not null, body string, body_octets int"
        ),
        articles_ok=arrow_table(articles_ok, art_schema),
        bodies_ok=arrow_table(
            [(bid, body) for bid, body, _ in bodies if bid not in bad_bodies],
            "id long not null, body string",
        ),
        quarantine=arrow_table(
            quarantine,
            "table_name string not null, id long, reject_reason string",
        ),
    )


def _distributed_frames(
    staged: DataFrame, has_corrupt: bool, max_redirect_depth: int
) -> _WikiFrames:
    """The distributed plan. Bodies: one row per non-redirect page (the
    reference does NOT content-dedup bodies — two identical texts get two
    rows, README.md:49-54). Ids are assigned over the NARROW (aid, title)
    projection — the text column never enters the range exchange or the
    layout checkpoint — then joined back by aid (unique per page), the one
    full-text shuffle (at cluster scale, bucket both sides by aid to make
    it co-located); its output feeds the bodies sink directly, so the text
    is read from staged exactly once."""
    from wiki_mysql_spark.sinks import split_quarantine

    redirect_pages = staged.where(F.col("is_redirect")).select(
        "title", F.col("redirect_target").alias("target"), "aid"
    )
    # non-redirect ns-0 pages are exactly the rows with a cleaned body
    articles_staged = staged.where(F.col("body_text").isNotNull())
    ids = dense_ids(
        articles_staged.select("aid", "title"), ["title"], id_col="body_id"
    )
    bodies = (
        articles_staged.select("aid", "body_text", "body_octets")
        .join(ids.select("aid", "body_id"), "aid")
        .select(
            F.col("body_id").alias("id"),
            F.col("body_text").alias("body"),
            "body_octets",
        )
    )
    resolved_redirects = resolve_redirects(
        redirect_pages,
        ids.select("title", "body_id"),
        max_depth=max_redirect_depth,
    ).select("aid", "title", "body_id")
    all_articles = ids.select("aid", "title", "body_id").unionByName(
        resolved_redirects
    )
    articles = dense_ids(all_articles, ["title", "aid"], id_col="id").select(
        "id", "aid", "title", F.col("body_id").alias("body")
    )
    articles_ok, bodies_ok, quarantine = split_quarantine(articles, bodies)
    if has_corrupt:
        quarantine = quarantine.unionByName(_corrupt_rows(staged))
    return _WikiFrames(
        "distributed", articles, bodies, articles_ok, bodies_ok, quarantine
    )


def build_wiki_tables(
    pages: DataFrame,
    *,
    remove_html: bool = True,
    valid_unicodes: tuple[tuple[int, int], ...] = (),
    invalid_unicodes: tuple[tuple[int, int], ...] = (),
    max_redirect_depth: int = 1024,
    exact_templates: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """pages ``(aid, title, ns, text[, redirect_title])`` ->
    ``(articles, bodies)`` exactly shaped like ``sql/init.sql:5-19``.
    Thin wrapper over :func:`_build_wiki_frames` (which run_wiki_etl uses
    directly for the quarantine split and the fused corrupt audit); on the
    driver plan both frames are local relations (:func:`_frame`)."""
    frames = _build_wiki_frames(
        pages,
        remove_html=remove_html,
        valid_unicodes=valid_unicodes,
        invalid_unicodes=invalid_unicodes,
        max_redirect_depth=max_redirect_depth,
        exact_templates=exact_templates,
    )
    spark = pages.sparkSession
    return (
        _frame(spark, frames.articles),
        _frame(spark, frames.bodies).select("id", "body"),
    )


def parse_unichr_range(txt: str) -> tuple[int, int]:
    """The reference's CLI range format (``/root/reference/dbfy.py:19-30``):
    two comma-delimited ints, hex (``0x2466``) or decimal, inclusive."""
    lo, hi = txt.split(",")
    as_int = lambda s: int(s, 16) if "x" in s else int(s)  # noqa: E731
    return as_int(lo), as_int(hi)


def _dump_bytes(spark, dump_path: str) -> int:
    """On-disk bytes of the dump as Spark will read it: a file, a
    directory, a glob, on any Hadoop FileSystem (local, ``file://``,
    ``hdfs://``, ``s3a://``). A path that matches nothing sizes as 0."""
    from wiki_mysql_spark.session import hadoop_fs

    fs, hpath = hadoop_fs(spark, dump_path)
    return sum(
        fs.getContentSummary(st.getPath()).getLength()
        for st in fs.globStatus(hpath) or []
    )


# bz2-compressed wiki text expands ~6-8x; the pipeline holds ONE full-text
# materialization (the staged parse+clean frame — r8: raw text no longer
# lands on scratch, so the old x2 two-frame factor is gone). Past this
# fraction of the heap, block-manager caching stops being a cache and
# becomes the allocation pattern that OOMs the executors (measured: 24M
# pages / 1.3 GB bz2 on an 8 GB heap died in the sink stage; 10M / 543 MB
# survived but with the heap pinned at its ceiling — the r6 5M->10M p/s
# dip).
_MAT_EXPANSION = 8
_MAT_HEAP_FRACTION = 0.35


def run_wiki_etl(
    spark,
    dump_path: str,
    out_dir: str,
    *,
    jdbc_url: str | None = None,
    jdbc_user: str = "root",
    jdbc_password: str = "",
    limit: int | None = None,
    progress: bool = False,
    **build_kwargs,
) -> dict[str, int]:
    """The full CLI workload (``/root/reference/dbfy.py:254-313`` analog):
    dump -> articles/bodies -> quarantine split -> parquet (always) ->
    MySQL via JDBC (when a URL is given). Returns the row counts WRITTEN
    to each parquet table, taken during the writes themselves (one
    ``Observation`` per Spark-written sink frame, counted in the write
    job's result stage, whose accumulator updates apply once per
    partition; the row count of a driver-written table) — the outputs are
    never read back to count them.

    ``limit`` caps the number of pages processed — exact-n ``df.limit``
    semantics (the reference's ``--limit`` was off-by-chunk between its
    1-proc and MP paths; SURVEY documents choosing exact-n). The corrupt
    captures are not capped: the first ``limit`` pages and every corrupt
    record are staged together, the same shape a run without ``limit``
    stages, and take the same plans and sinks. A ``limit=`` run first
    materializes the raw parse, so a warm call on the driver plan runs one
    job more than a run without it.

    The dump is parsed by the text-source/``from_xml`` reader, which
    splits WITHIN bz2 files (the XML source reads one task per file — a
    single-file dump would serialize the whole parse onto one core no
    matter the cluster size) and bounds structural-corruption loss to the
    broken page instead of the rest of its file.

    The build runs one of two plans (:func:`_build_wiki_frames`), named on
    stderr as ``# wiki-etl plan: driver|distributed``. On the driver plan
    (a small staged frame) a warm call runs 2 Spark jobs: the Arrow collect
    of the staged frame and the bodies write; a staged probe job runs only
    when the frame's size is not known from plan statistics. The driver
    plan builds all three tables on the driver as Arrow tables. The driver
    writes ``articles`` and ``quarantine`` with
    :func:`~wiki_mysql_spark.sinks.write_arrow_parquet` (no Spark job; the
    count is the table's row count). ``bodies`` is always a Spark write,
    here of its driver rows as a local frame: the wide table keeps one
    part file per task, the layout of the distributed plan, so a lost file
    loses a share of the bodies rather than the table. The outputs are the
    same on either plan.

    ``progress=True`` reports live task progress to stderr while the ETL
    runs — the reference's tqdm bars (``dbfy.py:158,191,231``), Spark-native
    (`plans/progress.py:job_progress` over StatusTracker telemetry).

    The compute-once STAGED frame (the fused parse+clean+split pass — the
    pipeline's only full-text materialization since r8) lives where the
    dump's size puts it: while the dump's bytes x :data:`_MAT_EXPANSION`
    stay within :data:`_MAT_HEAP_FRACTION` of the JVM heap, in memory (a
    block-manager localCheckpoint, fastest while the frame fits); past
    that, on disk (zstd temp parquet under ``out_dir``, removed when the
    run ends: writes stream, re-reads are scan-speed columnar with COLUMN
    PRUNING — every downstream consumer except the bodies join reads only
    narrow columns; the stage boundary a real 100 TB pipeline puts on
    durable storage). Measured necessity: 24M pages (1.3 GB bz2) on an
    8 GB heap OOMs in the sink stage in memory; 10M survives with the
    heap pinned at its ceiling — the r6 5M→10M p/s dip."""
    from contextlib import nullcontext

    from wiki_mysql_spark.plans.progress import job_progress
    from wiki_mysql_spark.sinks import (
        ARTICLES_DDL,
        BODIES_DDL,
        write_arrow_parquet,
        write_jdbc,
        write_parquet,
    )
    from wiki_mysql_spark.sources.tables import jvm_max_heap
    from wiki_mysql_spark.sources.wikixml import (
        project_corrupt,
        project_pages,
        project_pages_with_corrupt,
        read_wiki_dump_raw_splittable,
    )

    est = _dump_bytes(spark, dump_path) * _MAT_EXPANSION
    mode = "disk" if est > _MAT_HEAP_FRACTION * jvm_max_heap(spark) else "memory"
    print(f"# wiki-etl materialize: {mode}", file=sys.stderr)
    mat_paths: list[str] = []
    # big-dump runs bound the PER-TASK parquet writer buffer (see
    # sinks.write_parquet): 32 concurrent text writers at the 128 MB
    # default row group OOMed the 8 GB local[32] heap at 24M pages
    rg_bytes = (32 << 20) if mode == "disk" else None
    # ...and the READER buffer symmetrically: the vectorized reader sizes
    # its column vectors as batch-rows x value width, so the default 4096
    # rows over the staged frame's text column is a ~10-25 MB humongous
    # allocation PER TASK PER COLUMN — 32 concurrent read tasks OOMed the
    # 8 GB heap at 24M pages (G1 GCLocker retry stacks in the parquet
    # reader) even with the single-materialization layout. 512 rows keeps
    # each text batch ~1-3 MB; narrow columns lose nothing measurable at
    # these widths (the batch is still thousands of values).
    reader_batch_conf = "spark.sql.parquet.columnarReaderBatchSize"
    saved_batch = spark.conf.get(reader_batch_conf, None) if mode == "disk" else None
    if mode == "disk":
        spark.conf.set(reader_batch_conf, "512")

    def mat(df: DataFrame, name: str) -> DataFrame:
        if mode == "memory":
            return df.localCheckpoint(eager=False)
        path = f"{out_dir}/_mat_{name}"
        # zstd on the scratch parquet (parquet's default is snappy): the
        # staged frame is pure text, where zstd's ratio advantage directly
        # shrinks the round-trip IO that drove the r7 24M-page p/s dip
        w = df.write.mode("overwrite").option("compression", "zstd")
        if rg_bytes:
            w = w.option("parquet.block.size", str(rg_bytes))
        w.parquet(path)
        mat_paths.append(path)
        return spark.read.parquet(path)

    raw = read_wiki_dump_raw_splittable(spark, dump_path)
    if limit is not None:
        # exact-n limit must count ns-0 PAGES only, which needs the page
        # and corrupt branches separated before the limit — so a sampling
        # run materializes the raw parse first (one tokenize shared by
        # both branches), then rejoins the branches into the staging shape
        # below: every corrupt capture reaches the staged frame, and so
        # the quarantine, on both plans.
        raw = mat(raw, "raw")
        src = project_pages(raw).limit(limit).unionByName(
            project_corrupt(raw), allowMissingColumns=True
        )
    else:
        # production path: ONE conditional projection carries ns-0 pages
        # AND corrupt captures into the staged materialization inside
        # _build_wiki_frames — the parse has a single consumer and RAW
        # text never hits scratch (only the cleaned body materializes;
        # the pre-r8 raw+numbered double write was the measured IO
        # amplification behind the 24M-page throughput dip)
        src = project_pages_with_corrupt(raw)
    frames = _build_wiki_frames(src, materializer=mat, **build_kwargs)
    print(f"# wiki-etl plan: {frames.plan}", file=sys.stderr)

    sinks = {
        "articles": frames.articles_ok,
        "bodies": _frame(spark, frames.bodies_ok),
        "quarantine": frames.quarantine,
    }
    counts: dict[str, int] = {}
    observed: dict[str, Observation] = {}
    reporter = (
        job_progress(spark, "wiki-etl") if progress else nullcontext()
    )
    try:
        with reporter:
            for name, table in sinks.items():
                path = f"{out_dir}/{name}"
                if not isinstance(table, DataFrame):
                    # built on the driver: written from it, no Spark job
                    counts[name] = write_arrow_parquet(spark, table, path)
                    continue
                observed[name] = Observation()
                write_parquet(
                    table.observe(
                        observed[name], F.count(F.lit(1)).alias("rows")
                    ),
                    path,
                    row_group_bytes=rg_bytes,
                )

            if jdbc_url:
                write_jdbc(
                    spark.read.parquet(f"{out_dir}/articles"), jdbc_url, "articles",
                    user=jdbc_user, password=jdbc_password,
                    create_table_ddl=ARTICLES_DDL,
                )
                write_jdbc(
                    spark.read.parquet(f"{out_dir}/bodies"), jdbc_url, "bodies",
                    user=jdbc_user, password=jdbc_password,
                    create_table_ddl=BODIES_DDL,
                )
    finally:
        # the temp stage-boundary parquet is scratch, not output: drop it
        # even when a sink write raises (a failed run must not leak
        # several-times-the-dump of full-text temp parquet under out_dir)
        import shutil

        for p in mat_paths:
            shutil.rmtree(p, ignore_errors=True)
        if mode == "disk":
            if saved_batch is None:
                spark.conf.unset(reader_batch_conf)
            else:
                spark.conf.set(reader_batch_conf, saved_batch)

    counts.update((name, int(obs.get["rows"])) for name, obs in observed.items())
    return {name: counts[name] for name in sinks}


if __name__ == "__main__":  # pragma: no cover — thin CLI (dbfy.py analog)
    import argparse

    from wiki_mysql_spark.session import get_session

    p = argparse.ArgumentParser(description="wiki dump -> articles/bodies ETL")
    p.add_argument("dump", help="mediawiki XML dump path (.xml or .xml.bz2)")
    p.add_argument("out", help="output directory for parquet tables")
    p.add_argument("--jdbc-url", default=None, help="optional MySQL JDBC URL")
    p.add_argument("--jdbc-user", default="root")
    p.add_argument("--jdbc-password", default="")
    # reference-parity filtering flags (dbfy.py:52-66)
    p.add_argument("--limit", type=int, default=None,
                   help="process at most N pages (exact-n)")
    p.add_argument("--remove-html", type=int, default=1,
                   help="decode HTML entities (reference --remove_html)")
    p.add_argument("--valid-unichrs", type=parse_unichr_range, action="append",
                   default=None, metavar="LO,HI",
                   help="whitelist unicode range, hex or decimal, inclusive; "
                        "repeatable (reference --valid_unichrs)")
    p.add_argument("--invalid-unichrs", type=parse_unichr_range, action="append",
                   default=None, metavar="LO,HI",
                   help="blacklist unicode range; repeatable")
    p.add_argument("--exact-templates", action="store_true",
                   help="use the nesting-exact template scan (reference "
                        "parity for templates containing stray single "
                        "braces) instead of the regex fixpoint")
    p.add_argument("--remove-multiple-whitespaces", action="store_true",
                   help="accepted for drop-in compatibility; the collapse is "
                        "always applied, matching the reference's ACTUAL "
                        "behavior (its flag was parsed but never wired)")
    p.add_argument("--progress", action="store_true",
                   help="print live task progress to stderr (the "
                        "reference's tqdm bars, Spark-native)")
    args = p.parse_args()
    counts = run_wiki_etl(
        get_session("wiki-etl"),
        args.dump,
        args.out,
        jdbc_url=args.jdbc_url,
        jdbc_user=args.jdbc_user,
        jdbc_password=args.jdbc_password,
        limit=args.limit,
        progress=args.progress,
        remove_html=bool(args.remove_html),
        valid_unicodes=tuple(args.valid_unichrs or ()),
        invalid_unicodes=tuple(args.invalid_unichrs or ()),
        exact_templates=args.exact_templates,
    )
    print(counts)
