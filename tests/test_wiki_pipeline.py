"""E2E smoke for the wiki pipeline (SURVEY.md §5.4): synthetic mediawiki XML
-> read_wiki_dump -> build_wiki_tables -> exact articles/bodies contents."""

from __future__ import annotations

import os
import textwrap

import pytest
from pyspark.sql import functions as F

from wiki_mysql_spark.operators.ids import dense_ids
from wiki_mysql_spark.plans.wiki_pipeline import build_wiki_tables
from wiki_mysql_spark.sources.tables import local_frame
from wiki_mysql_spark.sources.wikixml import read_wiki_dump

WIKI_XML = textwrap.dedent(
    """\
    <mediawiki>
      <page>
        <title>Alpha</title><ns>0</ns><id>1</id>
        <revision><text>Alpha body with a [[Beta|link]] and {{tmpl}} markup.</text></revision>
      </page>
      <page>
        <title>Beta</title><ns>0</ns><id>2</id>
        <revision><text>Beta body &amp; more.</text></revision>
      </page>
      <page>
        <title>Alpha redirect</title><ns>0</ns><id>3</id>
        <redirect title="Alpha"/>
        <revision><text>#REDIRECT [[Alpha]]</text></revision>
      </page>
      <page>
        <title>Chain start</title><ns>0</ns><id>4</id>
        <revision><text>#REDIRECT [[Alpha redirect]]</text></revision>
      </page>
      <page>
        <title>Cycle one</title><ns>0</ns><id>5</id>
        <revision><text>#REDIRECT [[Cycle two]]</text></revision>
      </page>
      <page>
        <title>Cycle two</title><ns>0</ns><id>6</id>
        <revision><text>#REDIRECT [[Cycle one]]</text></revision>
      </page>
      <page>
        <title>Dangler</title><ns>0</ns><id>7</id>
        <revision><text>#REDIRECT [[Nowhere]]</text></revision>
      </page>
      <page>
        <title>Template:Skip me</title><ns>10</ns><id>8</id>
        <revision><text>not namespace 0</text></revision>
      </page>
    </mediawiki>
    """
)


@pytest.fixture(scope="module")
def wiki_tables(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("wikixml") / "dump.xml"
    path.write_text(WIKI_XML)
    pages = read_wiki_dump(spark, str(path))
    articles, bodies = build_wiki_tables(pages)
    return pages, articles.collect(), bodies.collect()


def test_namespace_filter(spark, wiki_tables):
    pages, _, _ = wiki_tables
    assert pages.count() == 7  # ns=10 page dropped at the scan


def test_bodies_cleaned(wiki_tables):
    _, _, bodies = wiki_tables
    by_body = {r["body"]: r["id"] for r in bodies}
    assert "Alpha body with a link and markup." in by_body
    assert "Beta body & more." in by_body
    assert len(bodies) == 2  # only non-redirect ns-0 pages get bodies


def test_articles_share_target_body(wiki_tables):
    _, articles, bodies = wiki_tables
    bid = {r["title"]: r["body"] for r in articles}
    # direct articles
    assert set(bid) == {"Alpha", "Beta", "Alpha redirect", "Chain start"}
    # redirect + chain share Alpha's body row (README.md:49-54 semantics)
    assert bid["Alpha redirect"] == bid["Alpha"]
    assert bid["Chain start"] == bid["Alpha"]
    # cycle + dangling pages produce no article row (dbfy.py:118-121,161-166)
    # ids are dense 1..N
    ids = sorted(r["id"] for r in articles)
    assert ids == list(range(1, len(articles) + 1))
    body_ids = sorted(r["id"] for r in bodies)
    assert body_ids == list(range(1, len(bodies) + 1))


def test_aid_preserved(wiki_tables):
    _, articles, _ = wiki_tables
    aid = {r["title"]: r["aid"] for r in articles}
    assert aid == {"Alpha": 1, "Beta": 2, "Alpha redirect": 3, "Chain start": 4}


def test_dense_ids_deterministic_and_dense(spark):
    from wiki_mysql_spark.operators import ids as ids_mod

    df = spark.createDataFrame(
        [(c, i) for i, c in enumerate("zyxwvutsrq")], ["k", "v"]
    ).repartition(4)
    small = dense_ids(df, ["k"], id_col="id")
    out = small.orderBy("id").collect()
    assert [r["k"] for r in out] == sorted("zyxwvutsrq")
    assert [r["id"] for r in out] == list(range(1, 11))
    # the size gate takes the single-partition path on this tiny frame (no
    # offsets join), and the range path (the bound at 0) is row-identical
    with pytest.MonkeyPatch.context() as m:
        m.setattr(ids_mod, "_SMALL_SORT_BYTES", 0)
        ranged = dense_ids(df, ["k"], id_col="id")
    plans = [
        x._jdf.queryExecution().optimizedPlan().toString() for x in (small, ranged)
    ]
    assert ["Join" in p for p in plans] == [False, True], plans
    assert ranged.orderBy("id").collect() == out


def test_bz2_dump_reads_identically(spark, tmp_path):
    """S2: .bz2 dumps decompress transparently (splittable Hadoop codec)."""
    import bz2

    plain = tmp_path / "d.xml"
    compressed = tmp_path / "d.xml.bz2"
    plain.write_text(WIKI_XML)
    compressed.write_bytes(bz2.compress(WIKI_XML.encode()))
    a = read_wiki_dump(spark, str(plain)).orderBy("aid").collect()
    b = read_wiki_dump(spark, str(compressed)).orderBy("aid").collect()
    assert a == b and len(a) == 7


def test_etl_disk_materialization_identical(spark, tmp_path, monkeypatch, capsys):
    """The byte-gated disk materialization (r7 — the 24M-page OOM fix):
    with the heap bound at 0 the staged frame lands as temp parquet
    instead of a block-manager checkpoint. Results must be byte-identical
    to the memory path and the scratch dirs must be gone afterwards."""
    import bz2

    import wiki_mysql_spark.plans.wiki_pipeline as wp

    dump = tmp_path / "d.xml.bz2"
    dump.write_bytes(bz2.compress(WIKI_XML.encode()))

    outs = {}
    for mode, fraction in (("memory", wp._MAT_HEAP_FRACTION), ("disk", 0)):
        monkeypatch.setattr(wp, "_MAT_HEAP_FRACTION", fraction)
        out = tmp_path / f"out_{mode}"
        counts = wp.run_wiki_etl(spark, str(dump), str(out))
        assert f"# wiki-etl materialize: {mode}" in capsys.readouterr().err
        arts = sorted(
            map(tuple, spark.read.parquet(f"{out}/articles").collect())
        )
        bods = sorted(
            map(tuple, spark.read.parquet(f"{out}/bodies").collect())
        )
        outs[mode] = (counts, arts, bods)
        assert not [
            d for d in os.listdir(out) if d.startswith("_mat_")
        ], "scratch materialization dirs must be cleaned up"
    assert outs["memory"] == outs["disk"]


def test_dump_sizing_reads_uris_and_globs(spark, tmp_path, monkeypatch, capsys):
    """The dump is sized as Spark reads it: a directory, its ``file://``
    URI and a glob over its shards give the same bytes, and a path that
    matches nothing gives 0. With the heap bound at 0, a ``file://`` dump
    therefore takes the disk materialization."""
    import bz2

    import wiki_mysql_spark.plans.wiki_pipeline as wp

    shards = tmp_path / "dump"
    shards.mkdir()
    for i in range(4):
        (shards / f"part-{i}.xml.bz2").write_bytes(bz2.compress(WIKI_XML.encode()))
    want = sum(p.stat().st_size for p in shards.iterdir())
    for path in (str(shards), shards.as_uri(), f"{shards}/*.bz2"):
        assert wp._dump_bytes(spark, path) == want, path
    assert wp._dump_bytes(spark, str(tmp_path / "missing.xml.bz2")) == 0

    monkeypatch.setattr(wp, "_MAT_HEAP_FRACTION", 0)
    dump = tmp_path / "d.xml.bz2"
    dump.write_bytes(bz2.compress(WIKI_XML.encode()))
    wp.run_wiki_etl(spark, dump.as_uri(), str(tmp_path / "out"))
    assert "# wiki-etl materialize: disk" in capsys.readouterr().err


def test_cli_flag_parity_limit_and_unicode(spark, tmp_path):
    """Reference CLI parity: --limit caps pages exact-n; --valid/invalid
    unichr ranges (hex or decimal, inclusive) reach the cleaning chain."""
    from wiki_mysql_spark.plans.wiki_pipeline import (
        parse_unichr_range,
        run_wiki_etl,
    )

    # the reference's range format (dbfy.py:19-30)
    assert parse_unichr_range("0x2466,0x2588") == (0x2466, 0x2588)
    assert parse_unichr_range("65,90") == (65, 90)

    dump = tmp_path / "mini.xml"
    pages = "".join(
        f"<page><title>P{i}</title><ns>0</ns><id>{i}</id>"
        f"<revision><text>abc XYZ {i} ⑧ end</text></revision></page>"
        for i in range(6)
    )
    dump.write_text(f"<mediawiki>{pages}</mediawiki>")

    counts = run_wiki_etl(
        spark,
        str(dump),
        str(tmp_path / "out"),
        limit=4,
        # blacklist the circled-digit block: U+2467 must vanish
        invalid_unicodes=((0x2460, 0x24FF),),
    )
    assert counts == {"articles": 4, "bodies": 4, "quarantine": 0}
    bodies = spark.read.parquet(str(tmp_path / "out" / "bodies"))
    texts = [r["body"] for r in bodies.collect()]
    assert all("⑧" not in t for t in texts)
    assert all("abc XYZ" in t for t in texts)


def test_global_ntile_matches_single_task_ntile_on_range_path(spark, monkeypatch):
    """global_ntile must reproduce ANSI NTILE bucket sizes/assignment
    exactly while planning the DISTRIBUTED rank (no unpartitioned
    WindowExec). The size gate is forced shut so the range-partitioned
    path — the one that runs at real scale — is the path under test,
    including a row count that does not divide the tile count."""
    import wiki_mysql_spark.operators.ids as ids_mod
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from wiki_mysql_spark.operators.ids import global_ntile

    monkeypatch.setattr(ids_mod, "_SMALL_SORT_BYTES", 0)  # force range path
    n, k = 10_007, 7  # 10007 = 7*1429 + 4 -> first 4 tiles get 1430 rows
    df = spark.range(n).select(
        ((F.col("id") * 2654435761) % 1_000_003).alias("key"),
        F.col("id").alias("rowid"),
    ).repartition(8)
    out = global_ntile(df, ["key", "rowid"], k, tile_col="t")
    expected = df.select(
        "key", "rowid",
        F.ntile(k).over(Window.orderBy("key", "rowid")).cast("long").alias("t"),
    )
    got = {(r["key"], r["rowid"]): r["t"] for r in out.collect()}
    want = {(r["key"], r["rowid"]): r["t"] for r in expected.collect()}
    assert got == want
    # and the distributed spelling must not contain an unpartitioned window
    from tests.test_plans import _walk_physical

    plan = out._jdf.queryExecution().executedPlan()
    for node in _walk_physical(plan):
        cls = node.getClass().getSimpleName()
        if cls.startswith("Window"):
            assert not node.partitionSpec().isEmpty(), cls


def test_global_ntile_fewer_rows_than_tiles(spark):
    from wiki_mysql_spark.operators.ids import global_ntile

    df = spark.createDataFrame([(3,), (1,), (2,)], ["v"])
    out = {r["v"]: r["t"] for r in global_ntile(df, ["v"], 10, tile_col="t").collect()}
    assert out == {1: 1, 2: 2, 3: 3}


def test_wiki_pipeline_fuzz_vs_reference_semantics(spark, tmp_path):
    """End-to-end differential fuzz of the WHOLE pipeline: 5 seeded random
    mini-dumps (markup-bearing article bodies from the cleaning-fuzz
    generator, redirect chains/cycles/self-loops/danglers, non-ns0 pages)
    through read_wiki_dump + build_wiki_tables, compared against an
    in-test reference that implements the dbfy semantics directly
    (clean via the transcribed gensim filter; resolve redirects to chain
    end; cycles and danglers drop; redirects share the target's body
    row). Generalizes the fixed 8-page E2E fixture to the surrounding
    input space."""
    import random
    from xml.sax.saxutils import escape

    from tests.gensim_reference import wiki_body_filter
    from tests.test_gensim_parity import (
        _fuzz_doc as make_fuzz_doc,
        _is_template_residual as is_template_residual,
    )

    rng = random.Random(0xE7E)
    for trial in range(5):
        n_articles = rng.randint(4, 10)
        titles = [f"Art {trial}-{i}" for i in range(n_articles)]
        pages = []  # (aid, title, ns, text)
        aid = 1
        for t in titles:
            body = make_fuzz_doc(rng)
            while is_template_residual(body):  # exact-parity input space
                body = make_fuzz_doc(rng)
            pages.append((aid, t, 0, body))
            aid += 1
        # redirects: to an article, a chain, a 2-cycle, a self-loop, a dangler
        redirects = {
            f"R direct {trial}": titles[0],
            f"R chain {trial}": f"R direct {trial}",
            f"R cyc A {trial}": f"R cyc B {trial}",
            f"R cyc B {trial}": f"R cyc A {trial}",
            f"R self {trial}": f"R self {trial}",
            f"R dangle {trial}": "Missing page",
        }
        for i, t in enumerate(titles[1:], 1):
            if rng.random() < 0.4:
                redirects[f"R rand {trial}-{i}"] = rng.choice(titles)
        for rt, target in redirects.items():
            pages.append((aid, rt, 0, f"#REDIRECT [[{target}]]"))
            aid += 1
        pages.append((aid, f"Talk:skip {trial}", 4, "not ns 0"))

        xml = ["<mediawiki>"]
        for pa, pt, ns, txt in pages:
            xml.append(
                f"<page><title>{escape(pt)}</title><ns>{ns}</ns><id>{pa}</id>"
                f"<revision><text>{escape(txt)}</text></revision></page>"
            )
        xml.append("</mediawiki>")
        dump = tmp_path / f"fuzz{trial}.xml"
        dump.write_text("\n".join(xml), encoding="utf-8")

        arts, bodies = build_wiki_tables(read_wiki_dump(spark, str(dump)))
        got_articles = arts.collect()
        body_text = {r["id"]: r["body"] for r in bodies.collect()}
        got = {r["title"]: (r["aid"], body_text[r["body"]]) for r in got_articles}

        # in-test reference: dbfy.py semantics over the same pages
        want = {}
        cleaned = {}
        for pa, pt, ns, txt in pages:
            if ns != 0 or txt.startswith("#REDIRECT "):
                continue
            cleaned[pt] = wiki_body_filter(txt)
            want[pt] = (pa, cleaned[pt])
        for pa, pt, ns, txt in pages:
            if ns != 0 or not txt.startswith("#REDIRECT "):
                continue
            target = txt[len("#REDIRECT [["):-2]
            hops = 0
            while target in redirects and hops < 1000:
                target = redirects[target]
                hops += 1
            if hops >= 1000 or target not in cleaned:
                continue  # cycle or dangler: dropped
            want[pt] = (pa, cleaned[target])
        assert got == want, (
            f"trial {trial}: {set(got) ^ set(want)} differ; "
            f"first diff: " + next(
                (f"{k}: got {got.get(k)!r} want {want.get(k)!r}"
                 for k in set(got) | set(want) if got.get(k) != want.get(k)),
                "",
            )
        )


def test_etl_progress_reporting(spark, tmp_path):
    """P4 (reference tqdm bars, dbfy.py:158,191): progress=True narrates
    live task progress to the given sink while the ETL runs, prints a
    terminal 'done' line, and leaves no reporter thread behind. The
    reporter must not perturb results."""
    import io
    import threading
    import time

    from wiki_mysql_spark.plans.progress import job_progress
    from wiki_mysql_spark.plans.wiki_pipeline import run_wiki_etl

    dump = tmp_path / "mini.xml"
    pages = "".join(
        f"<page><title>P{i}</title><ns>0</ns><id>{i}</id>"
        f"<revision><text>body text {i}</text></revision></page>"
        for i in range(8)
    )
    dump.write_text(f"<mediawiki>{pages}</mediawiki>")

    counts = run_wiki_etl(
        spark, str(dump), str(tmp_path / "out"), progress=True
    )
    assert counts == {"articles": 8, "bodies": 8, "quarantine": 0}
    assert not [
        t for t in threading.enumerate() if t.name.startswith("progress-")
    ]

    # the reporter itself, against a slow enough action to be observed
    sink = io.StringIO()
    with job_progress(spark, "probe", interval_sec=0.1, out=sink):
        spark.range(0, 30_000_000, 1, 64).selectExpr(
            "sum(id * 3 % 7)"
        ).collect()
        time.sleep(0.3)
    lines = sink.getvalue().splitlines()
    assert lines and lines[-1].startswith("[probe] done in")
    task_lines = [l for l in lines if "tasks (" in l and "stage" in l]
    assert task_lines, lines  # at least one live stage report


def _quarantine_dump(tmp_path):
    """A dump with one over-long title, a redirect to it and one page whose
    ``<text>`` never closes (a corrupt capture)."""
    from wiki_mysql_spark.sinks import TITLE_MAX_CHARS

    long_title = "L" * (TITLE_MAX_CHARS + 1)

    def page(aid, title, text):
        return (
            f"<page><title>{title}</title><ns>0</ns><id>{aid}</id>"
            f"<revision><text>{text}</text></revision></page>\n"
        )

    doc = (
        "<mediawiki>\n"
        + page(1, long_title, "long titled body")
        + page(2, "Short", "short body")
        + page(3, "To long", f"#REDIRECT [[{long_title}]]")
        + "<page><title>Nest</title><ns>0</ns><id>4</id>"
        "<revision><text>never closed</revision></page>\n"
        + page(5, "Other", "other body")
        + page(6, "To short", "#REDIRECT [[Short]]")
        + "</mediawiki>\n"
    )
    path = tmp_path / "q.xml"
    path.write_text(doc)
    return str(path)


def test_etl_counts_are_rows_written(spark, tmp_path, monkeypatch):
    """run_wiki_etl's counts are observed during the sink writes; they must
    equal what a read-back of each output finds, on both materializations
    and on the limit= path, with the quarantine rows carrying their
    reasons."""
    import wiki_mysql_spark.plans.wiki_pipeline as wp
    from wiki_mysql_spark.sinks import TITLE_MAX_CHARS

    dump = _quarantine_dump(tmp_path)
    title_reason = f"title exceeds VARCHAR({TITLE_MAX_CHARS})"
    # the heap bound at 0 puts the staged frame on disk
    for tag, fraction, kw in (
        ("memory", wp._MAT_HEAP_FRACTION, {}),
        ("disk", 0, {}),
        ("limit", wp._MAT_HEAP_FRACTION, {"limit": 3}),
    ):
        monkeypatch.setattr(wp, "_MAT_HEAP_FRACTION", fraction)
        out = str(tmp_path / f"out_{tag}")
        counts = wp.run_wiki_etl(spark, dump, out, **kw)
        assert counts == {
            k: spark.read.parquet(f"{out}/{k}").count() for k in counts
        }, tag
        reasons = sorted(
            r["reject_reason"]
            for r in spark.read.parquet(f"{out}/quarantine").collect()
        )
        corrupt = [r for r in reasons if r.startswith("corrupt xml record: ")]
        assert len(corrupt) == 1 and "Nest" in corrupt[0], (tag, reasons)
        if tag == "limit":
            assert counts["bodies"] <= 3 and set(reasons) <= {
                title_reason, corrupt[0]
            }, (tag, reasons)
            continue
        # the long title is quarantined; its redirect keeps its body
        assert counts == {"articles": 4, "bodies": 3, "quarantine": 2}, tag
        assert reasons == [corrupt[0], title_reason], tag


def test_warm_etl_job_budget_and_no_read_back(spark, tmp_path, monkeypatch):
    """A warm run_wiki_etl stays within its job budget, and no job is
    submitted after the last sink write returns, whichever sink (Spark's
    or the driver's) wrote it: the counts come from the writes, not from
    reading the outputs back. The budget is 2 jobs on the driver plan:
    one Arrow collect of the staged frame and the bodies write (articles
    and quarantine are written from the driver), on this fixture and on
    the 3000-page, 4-shard benchmark dump. ``limit=`` adds one job for
    the raw parse it materializes before its exact-n limit."""
    from wiki_mysql_spark import sinks
    from wiki_mysql_spark.plans.wiki_pipeline import run_wiki_etl

    dump = _quarantine_dump(tmp_path)
    sc = spark.sparkContext
    # the current group's job ids as each sink write returns
    after_writes: list[list[int]] = []

    def recording(write):
        def recording_write(*args, **kw):
            written = write(*args, **kw)
            group = sc.getLocalProperty("spark.jobGroup.id")
            if group is not None:
                after_writes.append(sc.statusTracker().getJobIdsForGroup(group))
            return written

        return recording_write

    for name in ("write_parquet", "write_arrow_parquet"):
        monkeypatch.setattr(sinks, name, recording(getattr(sinks, name)))
    for limit, budget in ((None, 2), (3, 3)):
        run_wiki_etl(spark, dump, str(tmp_path / f"cold_{limit}"), limit=limit)
        group = f"test-warm-etl-job-budget-{limit}"
        after_writes.clear()
        sc.setJobGroup(group, group)
        try:
            counts = run_wiki_etl(
                spark, dump, str(tmp_path / f"warm_{limit}"), limit=limit
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        if limit is None:
            assert counts == {"articles": 4, "bodies": 3, "quarantine": 2}
        assert len(jobs) <= budget, (limit, sorted(jobs))
        assert len(after_writes) == 3, (limit, after_writes)
        assert sorted(jobs) == sorted(after_writes[-1]), limit


def test_warm_etl_builds_the_cleaning_column_once(spark, tmp_path, monkeypatch):
    """Two run_wiki_etl calls in one session build the staged cleaning
    Column once; another option set, or another context key, builds its
    own, which cleans as a fresh build does."""
    import wiki_mysql_spark.plans.wiki_pipeline as wp
    from wiki_mysql_spark.functions.cleaning import clean_wiki_body

    built: list[dict] = []

    def counting_clean(col, **options):
        built.append(options)
        return clean_wiki_body(col, **options)

    monkeypatch.setattr(wp, "clean_wiki_body", counting_clean)
    monkeypatch.setattr(wp, "_CLEANING", type(wp._CLEANING)())
    dump = _quarantine_dump(tmp_path)
    for run in ("first", "second"):
        counts = wp.run_wiki_etl(spark, dump, str(tmp_path / run))
        assert counts == {"articles": 4, "bodies": 3, "quarantine": 2}, run
    assert len(built) == 1, built

    texts = spark.createDataFrame(
        [("a &amp; b {{t|x}} [[L|link]] 12 \u00e9",), ("plain 7",), (None,)],
        "text string",
    )
    sc = spark.sparkContext
    for options in [(False, (), (), False), (True, (), (), True),
                    (True, ((0x20, 0x7E),), ((0x30, 0x39),), False)]:
        memo = wp._cleaned_text(sc, *options)
        assert wp._cleaned_text(sc, *options) is memo, options
        fresh = clean_wiki_body(
            F.coalesce(F.col("text"), F.lit("")),
            **dict(zip(("remove_html", "valid_unicodes", "invalid_unicodes",
                        "exact_templates"), options)),
        )
        got = texts.select(memo.alias("m"), fresh.alias("f")).collect()
        assert [r["m"] for r in got] == [r["f"] for r in got], options
    assert len(built) == 4, built

    class Context:
        """A stand-in context key (the session's context is not stopped)."""

    other = Context()
    assert wp._cleaned_text(other, True, (), (), False) is not \
        wp._cleaned_text(sc, True, (), (), False)
    assert len(built) == 5, built


def _gate_dump(tmp_path):
    """A dump holding one of each case the build handles apart: a 2-hop
    redirect chain, a cycle, a dangling target, an empty ``#REDIRECT
    [[]]``, a chain past a max_redirect_depth of 2, an over-long title with
    a redirect to it, a body of 60 octets (over a patched
    ``BODY_MAX_BYTES``) with a redirect to it, a corrupt capture and a
    page outside namespace 0."""
    from wiki_mysql_spark.sinks import TITLE_MAX_CHARS

    long_title = "L" * (TITLE_MAX_CHARS + 1)
    pages = [
        ("Alpha", "alpha body"),
        ("Beta", "beta body &amp; more"),
        ("Alpha redirect", "#REDIRECT [[Alpha]]"),
        ("Chain start", "#REDIRECT [[Alpha redirect]]"),
        ("Cycle one", "#REDIRECT [[Cycle two]]"),
        ("Cycle two", "#REDIRECT [[Cycle one]]"),
        ("Dangler", "#REDIRECT [[Nowhere]]"),
        ("Empty target", "#REDIRECT [[]]"),
        ("Deep 0", "#REDIRECT [[Deep 1]]"),
        ("Deep 1", "#REDIRECT [[Deep 2]]"),
        ("Deep 2", "#REDIRECT [[Deep 3]]"),
        ("Deep 3", "#REDIRECT [[Beta]]"),
        (long_title, "long titled body"),
        ("To long", f"#REDIRECT [[{long_title}]]"),
        ("Huge", "h" * 60),
        ("To huge", "#REDIRECT [[Huge]]"),
    ]
    doc = ["<mediawiki>"]
    for aid, (title, text) in enumerate(pages, 1):
        doc.append(
            f"<page><title>{title}</title><ns>0</ns><id>{aid}</id>"
            f"<revision><text>{text}</text></revision></page>"
        )
        if aid == 5:
            doc.append(
                "<page><title>Nest</title><ns>0</ns><id>90</id>"
                "<revision><text>never closed</revision></page>"
            )
    doc.append(
        "<page><title>Talk:x</title><ns>1</ns><id>91</id>"
        "<revision><text>talk</text></revision></page>"
    )
    doc.append("</mediawiki>")
    path = tmp_path / "gate.xml"
    path.write_text("\n".join(doc))
    return str(path)


def _writer(path) -> str:
    """``driver`` when every part file under ``path`` was written by
    pyarrow (the driver-side sink), ``spark`` when all were written by
    Spark's parquet writer."""
    import pyarrow.parquet as pq

    kinds = {
        "driver" if "parquet-cpp" in pq.ParquetFile(f).metadata.created_by
        else "spark"
        for f in path.glob("part-*.parquet")
    }
    assert len(kinds) == 1, (path, kinds)
    return kinds.pop()


def test_wiki_plans_agree_both_sides_of_the_gate(spark, tmp_path, monkeypatch, capsys):
    """The staged probe's two plans — driver (the default bound) and
    distributed (the bound at 0) — write identical articles, bodies and
    quarantine rows and schemas from run_wiki_etl under memory and disk
    materialization and limit=, and build identical build_wiki_tables
    frames. The driver plan writes articles and quarantine from the driver
    (under limit= too: the raw parse's corrupt rows reach the quarantine
    through the staged frame), the distributed plan writes every table
    with Spark, so the comparison holds driver-written tables against
    Spark-written ones.
    The run names its plan on stderr, and the driver plan reads
    BODY_MAX_BYTES when called."""
    import wiki_mysql_spark.plans.wiki_pipeline as wp
    from wiki_mysql_spark import sinks
    from wiki_mysql_spark.sources.wikixml import read_wiki_dump

    monkeypatch.setattr(sinks, "BODY_MAX_BYTES", 50)
    dump = _gate_dump(tmp_path)

    def tables(frames):
        return [
            (df.schema, sorted(map(tuple, df.collect()), key=repr))
            for df in frames
        ]

    got = {}
    for plan, bound in (("driver", wp._STAGED_SMALL_BYTES), ("distributed", 0)):
        monkeypatch.setattr(wp, "_STAGED_SMALL_BYTES", bound)
        for tag, fraction, kw in (
            ("memory", wp._MAT_HEAP_FRACTION, {}),
            ("disk", 0, {}),
            ("limit", wp._MAT_HEAP_FRACTION, {"limit": 12}),
        ):
            with monkeypatch.context() as m:
                m.setattr(wp, "_MAT_HEAP_FRACTION", fraction)
                out = tmp_path / f"{plan}_{tag}"
                counts = wp.run_wiki_etl(
                    spark, dump, str(out), max_redirect_depth=2, **kw
                )
            assert f"# wiki-etl plan: {plan}" in capsys.readouterr().err
            from_driver = {"articles", "quarantine"} if plan == "driver" else set()
            assert {
                name: _writer(out / name)
                for name in ("articles", "bodies", "quarantine")
            } == {
                name: "driver" if name in from_driver else "spark"
                for name in ("articles", "bodies", "quarantine")
            }, (plan, tag)
            got[plan, tag] = (counts, tables(
                spark.read.parquet(str(out / name))
                for name in ("articles", "bodies", "quarantine")
            ))
        got[plan, "build"] = tables(
            wp.build_wiki_tables(read_wiki_dump(spark, dump), max_redirect_depth=2)
        )

    for tag in ("memory", "disk", "limit", "build"):
        assert got["driver", tag] == got["distributed", tag], tag
    counts, (articles, bodies, quarantine) = got["driver", "memory"]
    titles = {r[2] for r in articles[1]}
    assert {"Chain start", "Deep 2", "Deep 3", "To long"} <= titles
    assert not titles & {"Cycle one", "Dangler", "Empty target", "Deep 0", "Huge"}
    reasons = sorted(r[2].split(":")[0] for r in quarantine[1])
    assert reasons == [
        "body exceeds MEDIUMTEXT",
        "corrupt xml record",
        "references quarantined body",
        "references quarantined body",
        f"title exceeds VARCHAR({sinks.TITLE_MAX_CHARS})",
    ], reasons
    assert counts == {"articles": len(articles[1]), "bodies": 3, "quarantine": 5}


def _sql_plans(spark) -> dict[int, str]:
    """The physical plan of every SQL execution in the status store, by
    execution id."""
    xs = spark._jsparkSession.sharedState().statusStore().executionsList()
    execs = (xs.apply(i) for i in range(xs.size()))
    return {int(x.executionId()): str(x.physicalPlanDescription()) for x in execs}


def test_warm_etl_runs_no_python_row_scan(spark, tmp_path):
    """No SQL plan of a warm run_wiki_etl scans a Python-row RDD
    (``applySchemaToPythonRDD``): the frames it builds from driver data
    (the small-path redirect mapping) are Arrow-built local relations, so
    no stage starts a Python worker to read them."""
    from wiki_mysql_spark.plans.wiki_pipeline import run_wiki_etl

    dump = _quarantine_dump(tmp_path)
    run_wiki_etl(spark, dump, str(tmp_path / "cold"))
    before = max(_sql_plans(spark), default=-1)
    counts = run_wiki_etl(spark, dump, str(tmp_path / "warm"))
    assert counts == {"articles": 4, "bodies": 3, "quarantine": 2}
    warm = {i: p for i, p in _sql_plans(spark).items() if i > before}
    assert warm
    assert [i for i, p in warm.items() if "applySchemaToPythonRDD" in p] == []


def _leaf_kinds(df) -> list[str]:
    """Class of every leaf of ``df``'s optimized plan; a LogicalRDD whose
    lineage is a Python-row RDD reads ``PythonRDD``."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    kinds = []
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRDD" and "applySchemaToPythonRDD" in str(
            leaf.rdd().toDebugString()
        ):
            kind = "PythonRDD"
        kinds.append(kind)
    return kinds


def _site_redirects(spark):
    from wiki_mysql_spark.operators.redirects import resolve_redirects

    redirects = local_frame(
        spark,
        [("A", "B"), ("B", "C"), ("X", "Y"), ("Y", "X"), ("D", "Nowhere")],
        "title string, target string",
    )
    targets = local_frame(spark, [("C", 7)], "title string, body_id long")
    out = resolve_redirects(redirects, targets)
    return out, [("A", "B", 7), ("B", "C", 7)]


def _site_dense_ids(spark):
    from wiki_mysql_spark.operators import ids

    rows = [(c, i) for i, c in enumerate("zyxwvutsrq")]
    df = local_frame(spark, rows, "k string, v long").repartition(4)
    # the bound at 0 takes the distributed path, whose offsets are the
    # driver-built frame
    with pytest.MonkeyPatch.context() as m:
        m.setattr(ids, "_SMALL_SORT_BYTES", 0)
        out = dense_ids(df, ["k"], id_col="id")
    assert "Join" in out._jdf.queryExecution().optimizedPlan().toString()
    by_k = dict(rows)
    return out, [(i, k, by_k[k]) for i, k in enumerate(sorted(by_k), 1)]


def _site_connected_components(spark):
    from wiki_mysql_spark.operators.graph import connected_components

    edges = local_frame(
        spark, [(5, 4), (4, 3), (10, 11), (11, 10), (20, 20)], "src long, dst long"
    )
    out = connected_components(edges)
    return out, [(3, 3), (4, 3), (5, 3), (10, 10), (11, 10), (20, 20)]


def _site_bpe_train(spark):
    from wiki_mysql_spark.operators.bpe import bpe_train

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = local_frame(spark, [(1, text)], "doc_id long, text string")
    out = bpe_train(docs, n_merges=3)
    return out, [(1, "e", "s", 9), (2, "es", "t", 9), (3, "l", "o", 7)]


def _site_empty_near_dups(spark):
    from wiki_mysql_spark.operators.dedup import embedding_near_dup_pairs

    emb = local_frame(spark, [], "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs(emb, threshold=0.3)
    assert out.columns == ["id_a", "id_b", "cos_sim"]
    return out, []


@pytest.mark.parametrize(
    "site",
    [
        _site_redirects,
        _site_dense_ids,
        _site_connected_components,
        _site_bpe_train,
        _site_empty_near_dups,
    ],
    ids=lambda f: f.__name__[len("_site_"):],
)
def test_driver_built_frames_plan_as_local_relations(spark, site):
    """Every engine site that turns driver-side data into a frame builds it
    through Arrow: the frame is a LocalRelation leaf of the output's plan,
    no leaf is a Python-row RDD, and the rows are unchanged."""
    out, want = site(spark)
    kinds = _leaf_kinds(out)
    assert "LocalRelation" in kinds and "PythonRDD" not in kinds, kinds
    assert sorted(map(tuple, out.collect())) == sorted(want)
