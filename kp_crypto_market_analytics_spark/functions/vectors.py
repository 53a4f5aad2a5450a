"""Vector math over ``array<float>`` embedding columns.

Pure Catalyst expressions — the dot product and norms run JVM-side
with no Python round-trip.  ``dot``/``norm``/``cosine`` are
higher-order-function folds (``F.aggregate`` over ``F.zip_with``):
accumulation is left to right, so results are bit-for-bit equal to a
sequential SQL list reduction, and the expression tree stays the same
size whatever the dimension.  Spark evaluates these folds outside
whole-stage codegen.  An explicitly unrolled 64-term sum was measured
slower, not faster: its ~3·dim-node tree stalled codegen (janino
compile seconds per stage), and ivf_topk at sf0.1 took 12 s unrolled
against 2 s with the fold.

For very wide vectors, batched numpy via Pandas UDF wins — but beware
np.dot's pairwise/SIMD summation ORDER differs, which can flip rounded
oracle comparisons at the last decimal.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ — left-to-right accumulation (matches a sequential SQL
    list reduction, keeping float results engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null-safe on zero vectors (returns null)."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed norms — in pair-scoring plans compute
    each side's norm ONCE per vector (narrow, pre-join) instead of per
    pair; the quadratic stage keeps only the dot product (HOF loop:
    same left-assoc IEEE order as a sequential SQL list reduction,
    constant-size codegen regardless of dim)."""
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def abs_max(a: Column) -> Column:
    """max |aᵢ| — max is order-independent, so this is bit-portable
    across engines (unlike float sums)."""
    return F.aggregate(a, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v)))


def quantize_symmetric(a: Column, scale: Column) -> Column:
    """Symmetric int8-style quantization: round(aᵢ/scale), kept as
    doubles (integers up to 127 are exact) so dequantization and error
    math stay in one type across engines."""
    return F.transform(a, lambda x: F.round(x / scale))


def dequantize(q: Column, scale: Column) -> Column:
    return F.transform(q, lambda x: x * scale)
