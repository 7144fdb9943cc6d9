"""MediaWiki dump source (SURVEY.md S1-S3).

The reference streams ``bz2.BZ2File`` through gensim's ``extract_pages``
(``/root/reference/dbfy.py:188-191,228-233``) on one machine. Spark-first:

  * Spark's XML source reads each FILE whole (measured: one task per file,
    compressed or not), so single-file dumps parse on one core. Two scale
    recipes: the multistream/part-file layout Wikipedia already publishes
    (one task per part), and — the default ETL hot path —
    :func:`read_wiki_dump_raw_splittable`, which reads the dump through the
    TEXT source with ``lineSep="</page>"`` so even ONE bz2 stream splits
    across tasks (BZip2Codec is splittable), then parses fragments with
    ``from_xml``. Downstream stages are decoupled from input splits: the
    pipeline repartitions after the parse (plans/wiki_pipeline.py).
  * Spark 4's built-in XML source (``format("xml"), rowTag="page"``) does the
    page parsing with a pushable schema; the namespace filter becomes a
    Catalyst predicate instead of gensim's ``("0",)`` argument.
  * The dump's ``<redirect title=.../>`` attribute arrives as a proper
    column, so redirect detection (F7) doesn't even need the regex on the
    happy path — the body regex stays as fallback for dumps without the
    attribute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

# Subset of the mediawiki <page> element the pipeline needs; pruning the
# schema here prunes the parse (spark-xml only materializes requested fields).
PAGE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("ns", LongType()),
        StructField("title", StringType()),
        StructField(
            "redirect",
            StructType([StructField("_title", StringType())]),
        ),
        StructField(
            "revision",
            StructType([StructField("text", StringType())]),
        ),
        # PERMISSIVE corrupt capture: a structurally-broken <page> becomes a
        # row with this column set (and everything else null). Measured
        # semantics of Spark's XML tokenizer (read_wiki_dump_raw only): the
        # REST OF THAT FILE after the structural break is lost too —
        # file-granularity loss, which the multistream/part-file layout
        # bounds to one shard. The splittable reader
        # (read_wiki_dump_raw_splittable) bounds the loss to the broken page
        # itself. Either way this column is what makes the loss OBSERVABLE
        # (read_wiki_dump_corrupt) instead of the reference's silent drop
        # (dbfy.py:142-143).
        StructField("_corrupt_record", StringType()),
    ]
)


def read_wiki_dump_raw(spark: SparkSession, path: str) -> DataFrame:
    """One XML parse of the dump with the FULL page schema including the
    corrupt-capture column — callers project pages and/or corrupt records
    off this. Its users are the standalone readers :func:`read_wiki_dump`
    and :func:`read_wiki_dump_corrupt`, and the splittable source's parity
    test (``tests/test_splittable_source.py``). ``run_wiki_etl`` does not
    use it: it reads through :func:`read_wiki_dump_raw_splittable`, with
    or without ``limit``."""
    return (
        spark.read.format("xml")
        .option("rowTag", "page")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(PAGE_SCHEMA)
        .load(path)
    )


def read_wiki_dump_raw_splittable(spark: SparkSession, path: str) -> DataFrame:
    """Same output shape as :func:`read_wiki_dump_raw`, but the parse SPLITS
    WITHIN a file: the dump is read by the text source with
    ``lineSep="</page>"`` (Hadoop's BZip2Codec is a SplittableCompressionCodec,
    so even one .bz2 stream fans out across tasks at
    ``spark.sql.files.maxPartitionBytes`` granularity — measured: 17 tasks for
    a 271 MB single-file dump vs exactly 1 task through the XML source), and
    each ``<page>`` fragment is parsed by ``from_xml`` in whole-stage codegen.

    This is the hot-path reader for ``run_wiki_etl``: parse parallelism no
    longer depends on how many part-files the dump ships as. It also has
    STRICTLY TIGHTER corrupt semantics than the XML source: a structurally
    broken page loses only itself (its fragment fails ``from_xml`` and lands
    in ``_corrupt_record``), not the remainder of the file — the
    file-granularity caveat documented on :data:`PAGE_SCHEMA` applies to the
    XML-source reader only.

    Framing handling: the fragment before the first page carries the
    ``<mediawiki>`` header (and any ``<siteinfo>`` block) ahead of its
    ``<page``; the fragment after the last page is the ``</mediawiki>``
    trailer with no ``<page`` at all. Page-less fragments that still carry
    non-framing text (e.g. a page whose OPENING tag was destroyed) are kept
    as corrupt records rather than dropped — same observability contract as
    the XML source (reference drops them silently, dbfy.py:142-143)."""
    txt = spark.read.option("lineSep", "</page>").text(path)
    pos = F.locate("<page", F.col("value"))
    fragment = F.concat(
        F.col("value").substr(pos, F.length("value")), F.lit("</page>")
    )
    parsed = F.from_xml(
        fragment,
        PAGE_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    # a page-less fragment is framing noise iff nothing non-whitespace
    # remains after the mediawiki open/close tags and the siteinfo header
    # are stripped (NB: F.trim strips only spaces, not newlines)
    has_residue = F.regexp_replace(
        F.col("value"), r"(?s)</?mediawiki[^>]*>|<siteinfo>.*?</siteinfo>", ""
    ).rlike(r"\S")
    corrupt_row = F.struct(
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in PAGE_SCHEMA.fields
            if f.name != "_corrupt_record"
        ],
        F.col("value").alias("_corrupt_record"),
    )
    return (
        txt.where((pos > 0) | has_residue)
        .select(F.when(pos > 0, parsed).otherwise(corrupt_row).alias("p"))
        .select("p.*")
    )


def project_pages(
    raw: DataFrame, *, namespaces: tuple[int, ...] = (0,)
) -> DataFrame:
    """raw full-schema pages -> the (aid, title, ns, text, redirect_title)
    shape the pipeline consumes; corrupt rows drop here (ns null)."""
    return (
        raw.where(F.col("ns").isin(list(namespaces)))
        .select(
            F.col("id").alias("aid"),
            F.col("title"),
            F.col("ns").cast("int").alias("ns"),
            F.col("revision.text").alias("text"),
            F.col("redirect._title").alias("redirect_title"),
        )
    )


def project_pages_with_corrupt(
    raw: DataFrame, *, namespaces: tuple[int, ...] = (0,)
) -> DataFrame:
    """raw full-schema pages -> the pipeline shape PLUS structurally-corrupt
    captures riding along as rows with only ``corrupt_record`` set (their
    data fields are null). ONE conditional projection over ONE scan — a
    union of a pages branch and a corrupt branch over the same source
    tokenizes the dump twice (measured -18% ETL throughput when the r5
    corrupt audit briefly did exactly that). This is the shape
    ``run_wiki_etl``'s fused staging materializes: the raw parse gets a
    single consumer, so raw text never needs a scratch round trip."""
    keep = F.col("ns").isin(list(namespaces)) | F.col("_corrupt_record").isNotNull()
    return raw.where(keep).select(
        F.col("id").alias("aid"),
        F.col("title"),
        F.col("ns").cast("int").alias("ns"),
        F.col("revision.text").alias("text"),
        F.col("redirect._title").alias("redirect_title"),
        F.col("_corrupt_record").alias("corrupt_record"),
    )


def project_corrupt(raw: DataFrame) -> DataFrame:
    """raw full-schema pages -> one row per structurally-corrupt record.
    The id predicate is vacuously true for corrupt rows (their data fields
    are all null); it keeps a data column in the scan so Spark's
    QUERY_ONLY_CORRUPT_RECORD_COLUMN rule is satisfied without caching."""
    return (
        raw.where(
            F.col("_corrupt_record").isNotNull()
            & (F.col("id").isNull() | (F.col("id") >= 0))
        )
        .select(F.col("_corrupt_record").alias("corrupt_record"))
    )


def read_wiki_dump(
    spark: SparkSession, path: str, *, namespaces: tuple[int, ...] = (0,)
) -> DataFrame:
    """Read a mediawiki XML dump (optionally .bz2) into the raw_pages shape
    ``(aid, title, ns, text, redirect_title)``.

    Equivalent to ``extract_pages(bz2.BZ2File(path), ("0",))`` at
    ``/root/reference/dbfy.py:188-189`` but distributed: the ns filter is a
    pushed predicate, and only the projected fields are parsed.
    """
    return project_pages(read_wiki_dump_raw(spark, path), namespaces=namespaces)


def read_wiki_dump_corrupt(spark: SparkSession, path: str) -> DataFrame:
    """Audit frame of structurally-corrupt page records: one row per
    corrupt capture with the raw fragment. The reference silently drops
    any page that errors (``/root/reference/dbfy.py:142-143``); this is
    the distributed, OBSERVABLE analog. Caveat (measured, chaos-tested):
    Spark's XML tokenizer abandons the remainder of a file after a
    structural break, so a corrupt row also marks its whole shard as
    suspect — at scale the multistream part-file layout bounds the blast
    radius to one part, and this frame tells you which. (Standalone
    convenience — ``run_wiki_etl`` uses :func:`project_corrupt` over the
    shared checkpointed parse instead of re-tokenizing the dump.)"""
    return project_corrupt(read_wiki_dump_raw(spark, path))
