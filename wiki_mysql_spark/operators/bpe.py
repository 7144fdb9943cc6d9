"""Distributed byte-pair-encoding (BPE) merge training (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units" —
public algorithm; the tokenizer family behind GPT/Llama vocabularies).

The reference has no tokenizer; this is a north-star LLM-data operator:
learning a subword vocabulary over a 100 TB corpus is a canonical
pretraining-pipeline job. Classic BPE trains on the DISTINCT-word
frequency table (corpus-size-independent state): each round counts
adjacent symbol pairs weighted by word frequency, picks the global
argmax, and merges that pair everywhere.

Scale design per round: one explode+groupBy shuffle over O(total symbols
across distinct words) pair rows, a 1-row argmax to the driver (the same
bounded-driver-data shape as pagerank's dangling-mass broadcast), and a
map-side literal replace. The distinct-word table is computed once and
localCheckpointed; each merge round rewrites one string column.

Exactness trick shared with the DuckDB oracle: a word's symbol sequence
is stored as ``||sym1||sym2||...||`` — every boundary carries TWO
delimiters and the merge pattern ``|a||b|`` consumes ONE from each side,
so a plain left-to-right literal replace implements exactly BPE's greedy
non-overlapping merge (``a a a a`` -> ``aa aa``), with no regex and no
substring false-positives. Both engines run the identical replace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEP = "||"


def words_as_symbol_strings(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct lowercase words with frequencies, each as the canonical
    double-delimited character-symbol string: 'ab' -> '||a||b||'."""
    words = (
        docs.select(
            F.explode(
                F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
            ).alias("w")
        )
        .where((F.col("w") != "") & F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # 'ab' -> '||a||b||' (the per-char rewrite already appends the
    # trailing double delimiter)
    sym = F.concat(F.lit(SEP), F.regexp_replace(F.col("w"), "(.)", "$1" + SEP))
    return words.select(sym.alias("syms"), "freq")


def _pair_counts(words: DataFrame) -> DataFrame:
    """(left, right, cnt): adjacent symbol pairs weighted by word freq."""
    arr = F.filter(F.split(F.col("syms"), r"\|\|"), lambda s: s != "")
    n = F.size(arr)
    pairs = F.arrays_zip(
        F.slice(arr, 1, n - 1).alias("l"), F.slice(arr, 2, n - 1).alias("r")
    )
    return (
        words.select(F.explode(pairs).alias("p"), "freq")
        .select(F.col("p.l").alias("left"), F.col("p.r").alias("right"), "freq")
        .where(F.col("right").isNotNull())
        .groupBy("left", "right")
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(
    docs: DataFrame, *, n_merges: int = 6, text_col: str = "text"
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus; returns one row per
    round: (round, left, right, pair_count), deterministic via the
    (count DESC, left, right) tie-break."""
    spark = docs.sparkSession
    # Checkpoints are LAZY: the next round's argmax collect materializes
    # them inside its own job (the blocking eager count per round bought
    # nothing), and the final round's rewrite — which no one reads — now
    # materializes nothing at all (measured: 22 -> 15 jobs, results
    # identical).
    words = words_as_symbol_strings(docs, text_col).localCheckpoint(eager=False)
    merges = []
    for rnd in range(1, n_merges + 1):
        top = (
            _pair_counts(words)
            .orderBy(F.col("cnt").desc(), "left", "right")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["cnt"])
        merges.append((rnd, left, right, cnt))
        # '|a||b|' -> '|ab|': consumes one delimiter from each side, so
        # adjacent occurrences still match (greedy non-overlap == BPE)
        words = words.select(
            F.replace(
                F.col("syms"),
                F.lit(f"|{left}{SEP}{right}|"),
                F.lit(f"|{left}{right}|"),
            ).alias("syms"),
            "freq",
        ).localCheckpoint(eager=False)
    from wiki_mysql_spark.sources.tables import local_frame

    return local_frame(
        spark, merges, "round: long, left: string, right: string, pair_count: long"
    )


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize each doc with a learned merge list: per doc, the token
    count after applying every merge in training order (the encode side
    of BPE). Word-based, matching training: merges never cross word
    boundaries. Explode to words, per-word literal replaces (map-side),
    one sum-per-doc shuffle."""
    word = F.explode(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    ).alias("w")
    words = docs.select(F.col(id_col), word).where(
        (F.col("w") != "") & F.col("w").rlike("^[a-z]+$")
    )
    syms = F.concat(F.lit(SEP), F.regexp_replace(F.col("w"), "(.)", "$1" + SEP))
    for left, right in merges:
        syms = F.replace(
            syms, F.lit(f"|{left}{SEP}{right}|"), F.lit(f"|{left}{right}|")
        )
    arr = F.filter(F.split(syms, r"\|\|"), lambda s: s != "")
    return (
        words.select(F.col(id_col), F.size(arr).alias("n"))
        .groupBy(id_col)
        .agg(F.sum("n").cast("long").alias("n_tokens"))
    )
