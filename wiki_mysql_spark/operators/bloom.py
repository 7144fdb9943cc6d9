"""Native Bloom filter for membership prefiltering at corpus scale.

Spark's own runtime bloom filters (InjectRuntimeFilter) are not exposed to
the DataFrame API, and ``df.stat.bloomFilter`` returns a driver-side object
that can only be applied through a row-at-a-time Python UDF — the slow
path. This module builds the same structure with nothing but native
expressions:

  * BUILD — for each of ``n_hashes`` seeds, ``pmod(xxhash64(value, seed),
    n_bits)`` gives a bit index; one tiny shuffle groups indices into
    64-bit words with ``bit_or`` partial aggregation. The driver collects
    at most ``n_bits / 64`` longs (bounded metadata, like k-means
    centroids — never corpus rows).
  * PROBE — the word array ships as a broadcast array literal; membership
    is ``bit_get(element_at(words, idx), bit)`` for every seed, a pure
    JVM-side expression inside whole-stage codegen. No shuffle, no Python.

At 100 TB: the candidate side never shuffles for the probe; only rows the
bloom passes (true matches + the fp_rate tail) reach the exact verify
join, which removes false positives — so results are EXACT, the bloom is
purely a bandwidth optimization, and the operator stays oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wiki_mysql_spark.functions.text import shingles_of, words


def build_bloom(df: DataFrame, col: str, *, n_bits: int = 1 << 16,
                n_hashes: int = 5) -> list[int]:
    """Distributed Bloom build over ``df[col]``; returns ``n_bits/64``
    64-bit words. The only driver transfer is the word array."""
    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    idx = df.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(n_bits))
                    for s in range(n_hashes)
                ]
            )
        ).alias("bit_idx")
    )
    packed = (
        idx.selectExpr(
            "cast(bit_idx / 64 as int) AS w",
            "shiftleft(1L, cast(bit_idx % 64 as int)) AS m",
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    out = [0] * (n_bits // 64)
    for r in packed:
        out[r["w"]] = r["bits"]
    return out


def might_contain(col: Column, bloom_words: list[int], *, n_bits: int = 1 << 16,
                  n_hashes: int = 5) -> Column:
    """Native membership probe: true iff every seeded hash bit is set.
    Guaranteed no false negatives; false positives at the configured rate."""
    # ONE parsed SQL literal for the word array: PySpark's lit(list) builds
    # array(*[lit(x) ...]) — one py4j round trip per element, ~1s of pure
    # driver chatter for the default 1024-word filter at every probe call
    # site (the pathology similarity._sql_vec avoids, measured there at
    # 1.7-3.7s for centroid forests). The parsed Catalyst tree is the
    # identical CreateArray-of-Literal, so plans and results are unchanged.
    arr = F.expr(
        "array(" + ",".join(f"{int(w)}L" for w in bloom_words) + ")"
    )
    cond = F.lit(True)
    for s in range(n_hashes):
        h = F.pmod(F.xxhash64(col, F.lit(s)), F.lit(n_bits))
        word = F.element_at(arr, (h / 64).cast("int") + 1)
        cond = cond & (F.bit_get(word, (h % 64).cast("int")) == 1)
    return cond


def decontaminate_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    n: int = 3,
    n_bits: int = 1 << 16,
    n_hashes: int = 5,
) -> DataFrame:
    """Benchmark decontamination with a Bloom prefilter: flag training docs
    sharing any word ``n``-gram with the eval set.

    The eval side's distinct shingles build the bloom; the train side's
    shingles are probed NATIVELY before any join, so at 100 TB only the
    tiny contaminated tail (plus bloom false positives) enters the
    verify semi-join — the shuffle is sized by the bloom pass rate, not
    the corpus. The verify join makes the result exactly equal to the
    join-only implementation (``operators/corpus.py decontaminate``).
    """
    ev_sh = (
        eval_df.select(
            "eval_id", words(F.col("text")).alias("ws")
        )
        .select("eval_id", F.explode(F.array_distinct(shingles_of(F.col("ws"), n))).alias("shingle"))
        # one materialization: the eval shingle pipeline is consumed twice —
        # eagerly by the bloom build's collect and again by the verify join
        .localCheckpoint(eager=False)
    )
    bloom = build_bloom(ev_sh.select("shingle").distinct(), "shingle",
                        n_bits=n_bits, n_hashes=n_hashes)
    tr_sh = (
        train.select("doc_id", words(F.col("text")).alias("ws"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles_of(F.col("ws"), n))).alias("shingle"),
        )
    )
    candidates = tr_sh.where(
        might_contain(F.col("shingle"), bloom, n_bits=n_bits, n_hashes=n_hashes)
    )
    return (
        candidates.join(ev_sh, on="shingle")  # exact verify: drops bloom FPs
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )
