"""Vector math over ``array<float>`` columns — no UDFs.

Everything here is built from higher-order functions (``zip_with``,
``aggregate``, ``transform``) that execute JVM-side inside codegen; at 100 TB
this is the difference between a scan-speed operator and an Arrow round-trip
per row. Accumulation is forced to double (float32 folds drift and won't
match any oracle).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null when the norm product is zero, whatever
    ``spark.sql.ansi.enabled`` says."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance (no sqrt) — the PQ subvector metric; same
    sequential fold order as :func:`dot`/:func:`norm`."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# numpy twins of the folds above, for the Arrow-blocked and driver paths.
# ONE definition of each: the bit-equality argument every caller relies on
# — "same IEEE op sequence per element as the sequential aggregate() fold"
# — must not live in copies that can drift apart. Every numpy cosine goes
# through cosine_np: operators/similarity.py's _nearest_center_np (the
# codebook trainers and with_nearest_cell) and _lsh_score_batches (the
# one-task knn), and operators/dedup.py's embedding_near_dup_pairs. The
# only other seq_dot_np caller is lsh_signature_np, a sign of a dot with no
# division (pinned by an ast test).
# ---------------------------------------------------------------------------


def seq_dot_np(A, B):
    """acc += a_k * b_k one dimension at a time — the same IEEE op sequence
    per element as the sequential ``aggregate()`` fold in :func:`dot`."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for k in range(A.shape[1]):
        acc += np.multiply.outer(A[:, k], B[:, k])
    return acc


def seq_norm_np(A):
    """Dimension-ordered accumulation twin of :func:`norm`."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for k in range(A.shape[1]):
        acc += A[:, k] * A[:, k]
    return np.sqrt(acc)


def cosine_np(A, B, norm_a, norm_b):
    """Twin of :func:`cosine` for every (row of ``A``, row of ``B``) pair,
    given the rows' :func:`seq_norm_np` norms: ``(cos, valid)``, with
    ``valid`` False where the norm product is 0, where ``cosine``'s
    ``try_divide`` gives null (``cos`` holds the bare dot there). Each
    caller decides how such a pair ranks; a NaN element stays NaN."""
    import numpy as np

    den = np.multiply.outer(norm_a, norm_b)
    valid = den != 0
    return seq_dot_np(A, B) / np.where(valid, den, 1.0), valid


def seq_l2sq_np(A, B):
    """Dimension-ordered accumulation twin of :func:`l2_sq`: acc +=
    (a_k - b_k)*(a_k - b_k) one dimension at a time, the same IEEE op
    sequence per element as the sequential ``aggregate()`` fold."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]))
    for k in range(A.shape[1]):
        d = np.subtract.outer(A[:, k], B[:, k])
        acc += d * d
    return acc


def round6_half_up_np(x):
    """Twin of ``F.round(x, 6)`` / DuckDB ``round(x, 6)`` (HALF_UP — away
    from zero at the .5 boundary), computed as ``floor(|x|*1e6 + 0.5)/1e6``
    on doubles. This is the same double-multiply method DuckDB's round
    uses, so the twin is at least as close to the oracle as Spark's
    BigDecimal-string spelling is (those two already differ in method and
    agree empirically); a disagreement needs ``|x|*1e6`` within an ulp of
    an exact .5 boundary AND a near-tie between the candidates being
    compared — the 4-SF hash-parity sweeps are the empirical check."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5) / 1e6, x)


def pack_any_np(values, element_type: str):
    """Row-pack vectors honoring the STORAGE type: float32 storage takes
    the :func:`pack_rows_np` widening trip (matching ``_as_double``);
    double storage loads as float64 directly — a float32 round-trip there
    would TRUNCATE values the JVM folds see at full width."""
    import numpy as np

    if element_type == "float":
        return pack_rows_np(values)
    return np.array(
        [np.asarray(v, dtype=np.float64) for v in values], dtype=np.float64
    )


def pack_rows_np(values):
    """Row-pack a sequence of vectors as float32 then cast to float64 —
    exactly the storage->compute widening ``_as_double`` applies before
    folding, so the numpy paths see bit-identical inputs."""
    import numpy as np

    return np.array(
        [np.asarray(v, dtype=np.float32) for v in values], dtype=np.float32
    ).astype(np.float64)
