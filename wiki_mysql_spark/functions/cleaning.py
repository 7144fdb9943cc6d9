"""The wiki-body cleaning chain as native Column expressions.

Re-expresses ``WikiBodyFilter`` (``/root/reference/filters.py:12-64``) — a
per-row Python callable in the reference — as a chain of ``regexp_replace``
columns that Catalyst folds into whole-stage codegen. No Python executes per
row on the hot path; the only optional UDF is full HTML-entity decoding
(:func:`decode_html_entities_udf`), kept Arrow-batched and iterator-form.

Chain order is the reference's (``filters.py:52-64``):
  1. entity decode       (``filters.py:55-56``, gated by remove_html)
  2. markup strip        (``filters.py:58`` — gensim remove_markup)
  3. unicode whitelist   (``filters.py:25-34,60-61``)
  4. unicode blacklist   (``filters.py:36-46,60-61``; applied after whitelist)
  5. whitespace collapse (``filters.py:48-50,63`` — keeps the FIRST char of
     each whitespace run, so "\\n   " -> "\\n")
"""

from __future__ import annotations

import operator
from collections.abc import Callable, Iterator
from functools import reduce

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Anchored, case-sensitive — the reference uses REDIRECT_PAT.match
# (``/root/reference/dbfy.py:105,129``), i.e. match-at-start only.
REDIRECT_PATTERN = r"^#REDIRECT \[\[([^\]]*)\]\]"

# Common named entities handled natively; the full (numeric + all named)
# decode needs Python's html.unescape -> decode_html_entities_udf.
_NAMED_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&nbsp;", "\xa0"),  # NO-BREAK SPACE, exactly what html.unescape yields
    ("&amp;", "&"),  # last, so "&amp;lt;" decodes once, like html.unescape
]


def is_redirect_body(body: Column) -> Column:
    """True when the body matches the anchored redirect pattern — including
    an empty target ``#REDIRECT [[]]``, which the reference classifies as a
    redirect and then drops in the resolve pass (``dbfy.py:129-134,161-166``).
    """
    return body.rlike(REDIRECT_PATTERN)


def extract_redirect_target(body: Column) -> Column:
    """Redirect target title, or NULL for non-redirect bodies (F7).

    ``regexp_extract`` returns '' on no-match, so gate on an anchored rlike;
    an explicit empty target (``#REDIRECT [[]]``) also resolves to NULL —
    the reference would carry '' forward and drop it in the resolve pass
    anyway (``/root/reference/dbfy.py:161-166``).
    """
    target = F.regexp_extract(body, REDIRECT_PATTERN, 1)
    return F.when(body.rlike(REDIRECT_PATTERN) & (target != ""), target)


def decode_html_entities(col: Column) -> Column:
    """Native fast-path entity decode: the common named entities plus
    numeric ``&#NNN;``/``&#xHH;`` for the ASCII range via regexp.

    Numeric entities outside what a regex table can express are left for the
    UDF variant; at 100 TB this native path covers the overwhelming majority
    of occurrences without leaving the JVM.
    """
    for ent, ch in _NAMED_ENTITIES:
        col = F.replace(col, F.lit(ent), F.lit(ch))
    return col


def remove_templates_scan(s: str | None) -> str | None:
    """Nesting-exact ``{{template}}`` removal: from each ``{{``, count EVERY
    brace (so a ``{| table |}`` inside a template participates in the
    balance) and drop the span when opens == closes; an unclosed template
    drops the rest of the text. This is the observable behavior of the
    reference's cleaner (gensim's character-scan ``remove_template``,
    invoked via ``/root/reference/filters.py:58``), reimplemented
    independently. The regex chain covers pure-brace nesting up to the
    iteration budget; this scan exists for the residual class a regex
    cannot express (non-regular brace balance with stray single braces)."""
    if s is None:
        return None
    kept: list[str] = []
    keep_from = 0
    opens = closes = 0
    in_tpl = False
    prev = ""
    for i, c in enumerate(s):
        if not in_tpl:
            if c == "{" and prev == "{":
                kept.append(s[keep_from : i - 1])
                in_tpl = True
                opens, closes = 2, 0
        else:
            if c == "{":
                opens += 1
            elif c == "}":
                closes += 1
            if opens == closes:
                in_tpl = False
                keep_from = i + 1
        prev = c
    if not in_tpl:
        kept.append(s[keep_from:])
    return "".join(kept)


def remove_templates_exact_udf():
    """The exact template scan as an Arrow-batched iterator pandas UDF —
    the parity fallback for rows whose templates contain stray single
    braces (tables inside templates) or nest deeper than the regex
    iteration budget. Same precedent as :func:`decode_html_entities_udf`:
    the native fast path covers the overwhelming majority JVM-side and
    documents its residual divergence; this UDF restores exact reference
    parity where it matters."""

    @F.pandas_udf(StringType())
    def _strip(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            # in-Python short-circuit: Spark extracts a pandas UDF out of
            # CASE WHEN and evaluates it on EVERY row (measured), so the
            # caller-side contains('{{') gate cannot keep template-free
            # rows off the scan — this cheap substring check is the gate
            # that actually works
            yield s.map(
                lambda x: remove_templates_scan(x)
                if x is not None and "{{" in x
                else x
            )

    return _strip


def decode_html_entities_udf():
    """Exact-parity entity decode (numeric + all named), as an Arrow-batched
    iterator pandas UDF. Iterator form amortizes per-worker setup, mirroring
    the reference's pool-initializer pattern (``/root/reference/dbfy.py:218-224``).
    """
    import html

    @F.pandas_udf(StringType())
    def _decode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(lambda t: html.unescape(t) if t is not None else None)

    return _decode


# The markup-strip pass lists, shared verbatim by the Spark chain and the
# DuckDB oracle-SQL generator (queries/wiki.py). Each entry is
# ("re", pattern, replacement) or ("lit", literal, replacement). Patterns are
# RE2-compatible (no backrefs in patterns, NO lookaround — gensim's RE_P12
# lookahead and RE_P13 lookbehind are re-expressed as consume-and-reemit
# captures) so both engines run literally the same regexes; replacements use
# $N (rewritten to \\N for RE2). Pass structure mirrors gensim's
# ``remove_markup`` (tests/gensim_reference.py is the transcribed original):
# PRE once, TEMPLATE to fixpoint + tail, FILE once, MARKUP iterated x3,
# PROMOTE once.

# gensim RE_P2: trailing inter-language link list. Applied once, first.
# ($ here is end-of-text in RE2 vs before-final-\n in Python — pinned
# divergence for texts ending in a newline.)
MARKUP_PRE_PASSES: list[tuple[str, str, str]] = [
    ("re", r"(\n\[\[[a-z][a-z][\w-]*:[^:\]]+\]\])+$", ""),
]

# Template removal runs to FIXPOINT before any other markup pass — gensim
# removes templates with a nesting-aware character scan on the RAW text
# (remove_template, before its regex loop), so table/link passes must never
# see template braces. Innermost-out reaches nesting depth == iteration
# count; the unbalanced-tail pass then drops any '{{' remnant to
# end-of-text (gensim's scan drops unclosed templates' tails the same
# way). Templates containing stray single braces (a {| table |} inside a
# template) exceed what a regex can match — that residual class is exactly
# handled by remove_templates_exact_udf below (gated, Arrow-batched), and
# approximated here by the tail pass. Fuzz-pinned in
# tests/test_gensim_parity.py.
TEMPLATE_PASSES: list[tuple[str, str, str]] = [
    ("re", r"\{\{[^{}]*\}\}", ""),
]
TEMPLATE_TAIL_PASSES: list[tuple[str, str, str]] = [
    ("re", r"(?s)\{\{.*", ""),
]

# File/image links are removed ONCE, before the loop (gensim's
# remove_file position — after templates, before the pass loop).
FILE_PASSES: list[tuple[str, str, str]] = [
    ("re", r"\[\[([fF]ile:|[iI]mage)[^\]]*\]\]", ""),
]

MARKUP_PASSES: list[tuple[str, str, str]] = [
    # The deletion passes run SEQUENTIALLY in gensim's loop order — each a
    # full pass over the string before the next starts. A fused alternation
    # is NOT equivalent: a stray '<' (e.g. decoded from &lt;) earlier in the
    # string lets the generic-tag arm span a later comment/<ref> before the
    # dedicated pass ever sees it (fuzz-caught). Sequential order pins the
    # same interactions gensim has.
    # "needs" names the literal a pass cannot match without; every one of
    # them is in _NESTED_TRIGGERS, which gates iterations 2..n.
    ("re", r"(?s)<!--.*?-->", ""),                      # RE_P0; needs <
    ("re", r"(?s)<ref([> ].*?)(</ref>|/>)", ""),        # RE_P1; needs <
    ("re", r"(?s)<nowiki([> ].*?)(</nowiki>|/>)", ""),  # RE_P9; needs <
    ("re", r"(?s)<math([> ].*?)(</math>|/>)", ""),      # RE_P10; needs <
    ("re", r"(?s)<(.*?)>", ""),                         # RE_P11; needs <
    ("re", r"\[\[Category:[^\]\[]*\]\]", ""),  # RE_P14; needs [[Category:
    # external links: keep description incl. its leading space (RE_P5 ->
    # \3); needs ://
    ("re", r"\[(\w+)://([^ \]]*)( ([^\]]*))?\]", "$3"),
    # piped links: keep the last pipe segment (RE_P6 -> \2; greedy first
    # group, so [[a|b|c]] -> c; single-bracket form reaches [[..]] innards).
    # NOTE: plain [[link]] brackets are deliberately NOT stripped here —
    # gensim leaves them as protective structure until the final promote
    # pass, and stripping them early lets later table/link passes match
    # content gensim never exposes (fuzz-caught). Needs |
    ("re", r"\[([^\]\[]*)\|([^\]\[|]*)\]", "$2"),
    # ---- table markup, gensim order ----
    ("lit", "!!", "\n|"),          # each head cell on its own line; needs !
    ("lit", "|-||", "\n|"),        # '-'-filled cell; needs |
    # RE_P12 ({| / |} / |- lines up to \n), one alternation; the '|-' arms
    # encode gensim's (?!\d) without lookahead: '|-' matches only before \n
    # or a non-digit. The replacement re-emits the newline this consuming
    # spelling swallows (gensim's (?=\n) lookahead PRESERVES it): without
    # the second \n, RE_P13 below loses its \n\n left-context whenever a
    # body BEGINS with a table (or related first-line shapes) and leaves a
    # stray '| ' cell marker in the cleaned text — a real gensim-parity
    # break the well-formed-span fuzz never generated. The extra newline
    # itself is invisible in final output (F6 collapses whitespace runs).
    # Needs |
    ("re", r"(\{\||\|\})[^\n]*\n|\|-(\n|[^\d\n][^\n]*\n)", "\n\n"),
    ("lit", "|||", "|\n|"),        # each cell on its own line; needs |
    ("lit", "||", "\n|"),          # needs |
    # RE_P13 (cell-marker strip). gensim's fixed-width lookbehind becomes a
    # consumed-and-reemitted capture ($1). One subtlety: a Python
    # lookbehind can assert over characters a PREVIOUS match consumed
    # (re.sub scans the original string), which a consuming spelling
    # cannot — so the pass runs twice: the re-emitted "$1\n" newline of
    # the first application provides the context for the cascaded marker
    # (e.g. the final "|}" of a table with no trailing newline) on the
    # second. Fuzz-pinned. Both need | or !
    ("re", r"((\n )|(\n\n)|(  )|(.\n)|(.\t))(\||!)([^\[\]\n]*?\|)*", "$1\n"),
    ("re", r"((\n )|(\n\n)|(  )|(.\n)|(.\t))(\||!)([^\[\]\n]*?\|)*", "$1\n"),
    # RE_P17 (table formatting lines); needs one of its seven keywords
    (
        "re",
        r"\n.{0,4}(bgcolor|\d{0,1} ?colspan|rowspan|style=|class=|align=|scope=).*"
        r"|^.{0,4}(bgcolor|\d{0,1} ?colspan|rowspan|style=|class=|align=|scope=).*",
        "\n",
    ),
    # empty brackets left behind (gensim does this inside the loop); needs []
    ("lit", "[]", ""),
]

# The literals MARKUP_PASSES entries need (see "needs" above): an input
# that holds none of them goes through a whole iteration unchanged, so
# iterations 2..n run only on inputs that hold one. A bare [[x]] remnant
# holds none — gensim leaves those to the promote pass.
_NESTED_TRIGGERS = (
    "<", "|", "!", "[]", "://", "[[Category:",
    "bgcolor", "colspan", "rowspan", "style=", "class=", "align=", "scope=",
)

# gensim promote_remaining
PROMOTE_PASSES: list[tuple[str, str, str]] = [
    ("lit", "[", ""),
    ("lit", "]", ""),
]

# The collapse keeps each whitespace run's FIRST character. The class is
# Python's str.isspace() set spelled EXPLICITLY (same bytes in Java regex
# and RE2): the reference's Python `\s` is Unicode-aware (it matches the
# U+00A0 that &nbsp; decodes to), while Java's bare `\s` is ASCII-only —
# a divergence the fuzz suite caught on bare "&nbsp;x" inputs.
_WS_CLASS = (
    r"\t-\r\x1c-\x1f \x85\xa0"
    r"\x{1680}\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}"
)
WHITESPACE_PASS: tuple[str, str, str] = (
    "re", f"([{_WS_CLASS}])[{_WS_CLASS}]*", "$1"
)


def _apply_pass(col: Column, kind: str, pat: str, repl: str) -> Column:
    if kind == "lit":
        return F.replace(col, F.lit(pat), F.lit(repl))
    return F.regexp_replace(col, pat, repl)


def _passes(col: Column, passes: list[tuple[str, str, str]]) -> Column:
    for kind, pat, repl in passes:
        col = _apply_pass(col, kind, pat, repl)
    return col


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(x)`` with ``x`` bound ONCE to ``value``: ``element_at(
    transform(array(value), x -> body(x)), 1)``. A CASE WHEN over
    ``value`` itself would copy ``value``'s whole expression into the
    predicate and both branches; the lambda variable refers to its value
    once, so the tree holds each pass exactly once however deep the gates
    nest."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _holds_any(col: Column, literals: tuple[str, ...]) -> Column:
    """True where ``col`` contains one of ``literals``: one substring
    search per literal, OR-ed with short-circuit. On text that holds none
    of them this scan measured about half the cost of the same literals as
    one ``rlike`` alternation (which tries every arm at every offset)."""
    return reduce(operator.or_, (col.contains(s) for s in literals))


def _markup_iterations(col: Column, rounds: int) -> Column:
    """Markup iterations 2..``rounds + 1`` over ``col``. Each runs only
    where its input holds one of :data:`_NESTED_TRIGGERS`, and the next
    one is nested inside it: an input without a trigger comes out of an
    iteration unchanged, so every later iteration would skip it too.

    Each iteration runs the FULL :data:`MARKUP_PASSES` list — gensim's
    exact loop semantics. An earlier optimization ran only the nesting
    passes (links/tags) here, on the argument that table markup revealed
    by a removal is consumed in the same iteration; the counterexample is
    table markers whose REQUIRED trailing newline is only CREATED by a
    later literal pass ('||' -> '\\n|') of the same iteration — gensim's
    next iteration then strips them, the reduced list never did
    (adversarial table-token fuzz: 30/400 diffs). Full repetition measured
    +5% on the sf0.1 documents cleaning pass (0.55s -> 0.58s): the table
    regexes are cheap scans on real text, so exact parity wins. Fuzz after
    that change: 0 diffs / 602."""
    if rounds <= 0:
        return col
    return _let(
        col,
        lambda x: F.when(
            _holds_any(x, _NESTED_TRIGGERS),
            _markup_iterations(_passes(x, MARKUP_PASSES), rounds - 1),
        ).otherwise(x),
    )


def strip_wiki_markup(
    col: Column, iterations: int = 3, *, exact_templates: bool = False
) -> Column:
    """Wiki-markup strip (F3) as an iterated regexp chain.

    Mirrors the pass structure of gensim's ``remove_markup`` (invoked at
    ``/root/reference/filters.py:58``; transcription in
    ``tests/gensim_reference.py``, parity pinned by
    ``tests/test_gensim_parity.py``): language links, then iterated
    comments / <ref> / <math> / <nowiki> / tags / category / file / template
    / link simplification / table-cell markup, then unbalanced-template
    cleanup and bracket promotion. Nested constructs resolve innermost-out,
    so the chain runs up to ``iterations`` passes (gensim caps at 3 too).

    gensim also exits its loop once an iteration changes nothing. Here each
    later iteration is gated on its own input instead (:func:`_let` binds
    the input once): template passes 2..n and the tail pass run only on a
    value that still holds ``{{``, and markup iteration k only on a value
    that holds one of :data:`_NESTED_TRIGGERS`, the literals the markup
    passes need before they can match; iteration k+1 is tried only after
    iteration k ran (:func:`_markup_iterations`). Exact by construction: a
    skipped iteration would have changed nothing. On generated wiki bodies
    iterations 2..n almost never run. (An earlier per-row CASE WHEN over
    the inline expression measured 2x SLOWER than the fixed count: it
    copies the expression into the predicate and both branches, tripling
    the tree per level; the lambda variable does not copy it.) The
    expression holds the same ``regexp_replace``/``replace`` nodes as the
    fixed-count chain (pinned in ``tests/test_cleaning.py``).
    """
    col = _passes(col, MARKUP_PRE_PASSES)
    # templates to fixpoint BEFORE any other pass (gensim order) —
    # innermost-out x iterations, then drop any '{{' remnant to end
    if exact_templates:
        # the nesting-exact scan (reference parity for templates holding
        # stray single braces, e.g. a {| table |} inside an infobox, where
        # the regex tail pass over-drops to end-of-text); Arrow-batched.
        # NOTE: the template-free short-circuit lives INSIDE the UDF — a
        # CASE WHEN gate here does not work (Spark extracts the pandas UDF
        # out of the conditional and runs it on every row; measured)
        col = remove_templates_exact_udf()(col)
    else:
        col = _passes(col, TEMPLATE_PASSES * min(iterations, 1))
        rest = TEMPLATE_PASSES * (iterations - 1) + TEMPLATE_TAIL_PASSES
        col = _let(
            col, lambda x: F.when(x.contains("{{"), _passes(x, rest)).otherwise(x)
        )
    col = _passes(col, FILE_PASSES)
    col = _passes(col, MARKUP_PASSES)
    col = _markup_iterations(col, iterations - 1)
    return _passes(col, PROMOTE_PASSES)


def _ranges_to_class(ranges: tuple[tuple[int, int], ...]) -> str:
    """Codepoint ranges -> regex char-class body, built at plan time (the
    reference builds these once in __init__, ``filters.py:25-46``; range
    parsing from CLI at ``dbfy.py:20-31``)."""
    return "".join(f"\\x{{{s:04x}}}-\\x{{{e:04x}}}" for s, e in ranges)


def unicode_whitelist(col: Column, ranges: tuple[tuple[int, int], ...]) -> Column:
    """Delete every char OUTSIDE the given ranges (F4, ``filters.py:25-34``)."""
    if not ranges:
        return col
    return F.regexp_replace(col, f"[^{_ranges_to_class(ranges)}]", "")


def unicode_blacklist(col: Column, ranges: tuple[tuple[int, int], ...]) -> Column:
    """Delete every char INSIDE the given ranges (F5, ``filters.py:36-46``)."""
    if not ranges:
        return col
    return F.regexp_replace(col, f"[{_ranges_to_class(ranges)}]", "")


def collapse_whitespace(col: Column) -> Column:
    """Collapse each whitespace run to its FIRST character (F6):
    ``(\\s)\\s*`` -> ``$1`` exactly as ``filters.py:48-50,63``."""
    kind, pat, repl = WHITESPACE_PASS
    return _apply_pass(col, kind, pat, repl)


def cleaning_chain_duckdb_sql(
    expr: str,
    *,
    remove_html: bool = True,
    valid_unicodes: tuple[tuple[int, int], ...] = (),
    invalid_unicodes: tuple[tuple[int, int], ...] = (),
    markup_iterations: int = 3,
) -> str:
    """Generate DuckDB SQL applying the exact F1-F6 chain to ``expr``.

    Built from the SAME pass lists as the Spark chain so the oracle is
    literally the same sequence of regexes (DuckDB's RE2 takes ``\\N``
    backrefs in replacements and an 's' option instead of Spark's inline-only
    flags; patterns themselves are shared verbatim).
    """

    def one(e: str, kind: str, pat: str, repl: str) -> str:
        if kind == "lit":
            lit = pat.replace("'", "''")
            rep = repl.replace("'", "''")
            return f"replace({e}, '{lit}', '{rep}')"
        # DuckDB's regexp engine is RE2, which honors inline (?s)/(?m) flags,
        # so patterns pass through verbatim with just the global option.
        options = "g"
        pat_sql = pat.replace("\\", "\\\\").replace("'", "''")
        repl_sql = repl
        for i in range(9, 0, -1):
            repl_sql = repl_sql.replace(f"${i}", f"\\\\{i}")
        return f"regexp_replace({e}, e'{pat_sql}', e'{repl_sql}', '{options}')"

    e = expr
    if remove_html:
        for ent, ch in _NAMED_ENTITIES:
            e = one(e, "lit", ent, ch)
    for kind, pat, repl in MARKUP_PRE_PASSES:
        e = one(e, kind, pat, repl)
    for _ in range(markup_iterations):
        for kind, pat, repl in TEMPLATE_PASSES:
            e = one(e, kind, pat, repl)
    for kind, pat, repl in TEMPLATE_TAIL_PASSES:
        e = one(e, kind, pat, repl)
    for kind, pat, repl in FILE_PASSES:
        e = one(e, kind, pat, repl)
    for kind, pat, repl in MARKUP_PASSES:
        e = one(e, kind, pat, repl)
    for _ in range(markup_iterations - 1):
        for kind, pat, repl in MARKUP_PASSES:
            e = one(e, kind, pat, repl)
    for kind, pat, repl in PROMOTE_PASSES:
        e = one(e, kind, pat, repl)
    if valid_unicodes:
        e = one(e, "re", f"[^{_ranges_to_class(valid_unicodes)}]", "")
    if invalid_unicodes:
        e = one(e, "re", f"[{_ranges_to_class(invalid_unicodes)}]", "")
    kind, pat, repl = WHITESPACE_PASS
    return one(e, kind, pat, repl)


# Any string the decode+strip passes could change must contain one of these:
# '&' (entities), '<' (comments/tags), '{' (templates/tables), '[' or ']'
# (links/brackets), '|' / '!' (table cells), or an RE_P17 formatting keyword.
# Rows without them — most of a clean documents corpus — skip all ~30 regex
# passes. The common markup characters come first: the test stops at the
# first literal found.
_MARKUP_TRIGGERS = (
    "[", "<", "{", "]", "&", "|", "!",
    "bgcolor", "colspan", "rowspan", "style=", "class=", "align=", "scope=",
)


def clean_wiki_body(
    col: Column,
    *,
    remove_html: bool = True,
    valid_unicodes: tuple[tuple[int, int], ...] = (),
    invalid_unicodes: tuple[tuple[int, int], ...] = (),
    markup_iterations: int = 3,
    exact_templates: bool = False,
) -> Column:
    """The full F1-F6 chain in reference order (``filters.py:52-64``).

    The decode+strip portion is gated on one cheap trigger scan
    (``_MARKUP_TRIGGERS``, see :func:`_holds_any`); CASE WHEN
    short-circuits per row, so markup-free rows cost a few substring
    searches instead of the full pass chain. Result-identical
    by construction: every decode/strip pass requires a trigger char to match
    anything. Prefer passing a plain column reference — ``col`` is
    referenced once per trigger literal here, and twice more. Inside the strip, later
    markup and template iterations are gated the same way per row, on a
    "let"-bound value that is not copied (see :func:`strip_wiki_markup`),
    so a row that holds markup pays for iteration 1 and only for the later
    iterations that can still change it.

    ``exact_templates=True`` swaps the regex template fixpoint for the
    nesting-exact Arrow UDF scan (exact reference parity on templates
    containing stray single braces, at Python-batch cost on '{{' rows)."""
    stripped = decode_html_entities(col) if remove_html else col
    stripped = strip_wiki_markup(
        stripped, markup_iterations, exact_templates=exact_templates
    )
    col = F.when(_holds_any(col, _MARKUP_TRIGGERS), stripped).otherwise(col)
    col = unicode_whitelist(col, valid_unicodes)
    col = unicode_blacklist(col, invalid_unicodes)
    return collapse_whitespace(col)
