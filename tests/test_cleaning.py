"""Golden-output tests for the cleaning chain (SURVEY.md §5.2).

Cases cover: templates (incl. nested), pipe/plain/file/category links,
<ref>/tags/comments, HTML entities, unicode white/blacklist (whitelist
applied BEFORE blacklist, filters.py:34,46), and whitespace collapse keeping
the FIRST char of each run (filters.py:63).
"""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from wiki_mysql_spark.functions.cleaning import (
    FILE_PASSES,
    MARKUP_PASSES,
    MARKUP_PRE_PASSES,
    PROMOTE_PASSES,
    TEMPLATE_PASSES,
    TEMPLATE_TAIL_PASSES,
    _apply_pass,
    clean_wiki_body,
    collapse_whitespace,
    decode_html_entities,
    decode_html_entities_udf,
    extract_redirect_target,
    strip_wiki_markup,
)

CASES = [
    ("plain", "Hello world.", "Hello world."),
    ("template", "Before {{Infobox|a=1}} after.", "Before after."),
    ("template_nested", "X {{outer {{inner}} rest}} Y", "X Y"),
    ("pipe_link", "See [[Target|the target]] now.", "See the target now."),
    ("plain_link", "See [[Target]] now.", "See Target now."),
    ("file_link", "A [[File:pic.jpg|thumb|caption]] B", "A B"),
    ("category_link", "Text [[Category:Things]] end", "Text end"),
    ("ref_tag", "Fact<ref name=x>citation</ref> stands.", "Fact stands."),
    ("html_tag", "A <b>bold</b> claim.", "A bold claim."),
    ("comment", "Visible <!-- hidden --> text.", "Visible text."),
    ("external_link", "Site [http://example.com the site] here.", "Site the site here."),
    ("external_bare", "Site [http://example.com] here.", "Site here."),
    ("entity_amp", "Fish &amp; chips &lt;3", "Fish & chips <3"),
    ("ws_collapse_first", "a\n   b\t\t c", "a\nb\tc"),
    ("ws_space_run", "a    b", "a b"),
]


@pytest.mark.parametrize("case_id,raw,expected", CASES, ids=[c[0] for c in CASES])
def test_clean_golden(spark, case_id, raw, expected):
    df = spark.createDataFrame([(raw,)], ["text"])
    out = df.select(clean_wiki_body(F.col("text")).alias("cleaned")).first()["cleaned"]
    assert out == expected


def test_unicode_whitelist_then_blacklist(spark):
    # whitelist keeps basic latin + hangul syllables; blacklist then removes
    # digits — order matters and matches filters.py append order (34 then 46)
    df = spark.createDataFrame([("abc123한글禁",)], ["text"])
    out = df.select(
        clean_wiki_body(
            F.col("text"),
            valid_unicodes=((0x20, 0x7E), (0xAC00, 0xD7AF)),
            invalid_unicodes=((0x30, 0x39),),
        ).alias("cleaned")
    ).first()["cleaned"]
    assert out == "abc한글"


def test_collapse_keeps_first_char(spark):
    df = spark.createDataFrame([("x\n  \t y",)], ["t"])
    assert df.select(collapse_whitespace(F.col("t")).alias("o")).first()["o"] == "x\ny"


def test_entity_udf_full_parity(spark):
    df = spark.createDataFrame(
        [("&amp;", "&"), ("&#65;", "A"), ("&#x42;", "B"), ("&eacute;", "é")],
        ["raw", "want"],
    )
    got = df.select(decode_html_entities_udf()(F.col("raw")).alias("o"), "want").collect()
    for row in got:
        assert row["o"] == row["want"]


@pytest.mark.parametrize(
    "body,target",
    [
        ("#REDIRECT [[Other Page]]", "Other Page"),
        ("#REDIRECT [[A|b]] trailing", "A|b"),
        ("no redirect here", None),
        ("text #REDIRECT [[X]]", None),  # .match is anchored (dbfy.py:129)
        ("#redirect [[x]]", None),  # case-sensitive, like the reference
        ("#REDIRECT [[]]", None),  # empty target never resolves anyway
    ],
)
def test_redirect_extract(spark, body, target):
    df = spark.createDataFrame([(body,)], ["text"])
    got = df.select(extract_redirect_target(F.col("text")).alias("t")).first()["t"]
    assert got == target


def _fixed_count_strip(col, iterations: int = 3):
    """The markup strip with every iteration run unconditionally, built
    from the public pass lists: the chain the gated strip must equal."""
    passes = (
        MARKUP_PRE_PASSES
        + TEMPLATE_PASSES * iterations
        + TEMPLATE_TAIL_PASSES
        + FILE_PASSES
        + MARKUP_PASSES * iterations
        + PROMOTE_PASSES
    )
    for kind, pat, repl in passes:
        col = _apply_pass(col, kind, pat, repl)
    return col


# Rows a later iteration still changes: nested templates (depth 2-3 need
# template passes 2-3; depth 4 reaches the tail pass), and markup that
# iteration 1 only exposes — the '[]' left by a piped link, and table
# markers whose trailing newline a '||' -> '\n|' pass of iteration 1
# creates (see _markup_iterations).
LATER_ITERATION_ROWS = [
    "x {{a {{b}} c}} y",
    "x {{a {{b {{c}} d}} e}} y",
    "[[a|[]]] x",
    "|-a ||}",
    "|} {||-",
    "|}{| a |a ||| c",
]
ADVERSARIAL_ROWS = LATER_ITERATION_ROWS + [
    "x {{a {{b {{c {{d}} e}} f}} g}} y",
    "[[a|[[b|c]]]]",
    "x [[a|[[b|c]]]] y",
    "[[a|[[b|[[c|d]]]]]]",
    "<ref{{x}}>note</ref> after",
    "{{t|<ref>x</ref>}} <ref>{{y}}z</ref>",
    "<{{x}}ref name=a>note</ref> after",
    "[[x|<ref]]>note</ref> tail",
]


def test_gated_strip_equals_fixed_count_chain(spark):
    """The gated strip (later iterations run only where their input holds
    a trigger) gives the fixed-count chain's output on the gensim fuzz
    corpus, the gensim fixtures, the adversarial table-token fuzz and rows
    a later iteration does change; so does clean_wiki_body against the
    ungated decode -> fixed strip -> collapse chain."""
    from tests.test_gensim_parity import FIXTURES, _fuzz_doc

    rng = random.Random(0xC1EA)
    fuzz = [_fuzz_doc(rng) for _ in range(1000)]
    rng = random.Random(3)
    toks = ["{|", "|}", "|-", "|| c", "| x", "word", "\n", "!!", "a |", " "]
    tables = [
        "".join(rng.choice(toks) for _ in range(rng.randint(2, 14)))
        for _ in range(300)
    ]
    docs = ADVERSARIAL_ROWS + FIXTURES + tables + fuzz
    t = F.col("t")
    rows = (
        spark.createDataFrame(list(enumerate(docs)), ["i", "t"])
        .select(
            "i",
            strip_wiki_markup(t).alias("gated"),
            _fixed_count_strip(t).alias("fixed"),
            _fixed_count_strip(t, 1).alias("one"),
            clean_wiki_body(t).alias("clean"),
            collapse_whitespace(_fixed_count_strip(decode_html_entities(t)))
            .alias("clean_fixed"),
        )
        .collect()
    )
    by_i = {r["i"]: r for r in rows}
    diverged = [
        (docs[i], r["gated"], r["fixed"])
        for i, r in sorted(by_i.items())
        if r["gated"] != r["fixed"] or r["clean"] != r["clean_fixed"]
    ]
    assert not diverged, diverged[:3]
    # the rows above do exercise iterations 2..n
    assert [
        d for i, d in enumerate(LATER_ITERATION_ROWS)
        if by_i[i]["one"] == by_i[i]["fixed"]
    ] == []
    assert sum(r["one"] != r["fixed"] for r in rows) > len(LATER_ITERATION_ROWS)


def _node_classes(spark, col) -> Counter:
    """Class name of every node of ``col``'s analyzed expression tree."""
    plan = (
        spark.range(1).select(F.lit("").alias("t")).select(col.alias("c"))
        ._jdf.queryExecution().analyzed()
    )
    exprs = plan.expressions()
    stack = [exprs.apply(i) for i in range(exprs.size())]
    seen: Counter = Counter()
    while stack:
        e = stack.pop()
        seen[e.getClass().getSimpleName()] += 1
        children = e.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return seen


def test_gates_add_no_copy_of_any_pass(spark):
    """The gated strip holds exactly as many regexp_replace / replace
    nodes as the fixed-count chain: each gate binds its input once, so no
    pass is copied into a predicate or a branch."""
    t = F.col("t")
    gated = _node_classes(spark, strip_wiki_markup(t))
    fixed = _node_classes(spark, _fixed_count_strip(t))
    for node in ("RegExpReplace", "StringReplace"):
        assert gated[node] == fixed[node] > 0, node
    # one template gate and one gate per markup iteration 2..3
    assert gated["ArrayTransform"] == 3
