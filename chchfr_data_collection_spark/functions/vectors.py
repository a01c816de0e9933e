"""Vector/embedding column functions — native higher-order expressions.

Embeddings are `array<float>` columns. Everything here stays JVM-side
(zip_with / aggregate over arrays); no Python in the hot path.

Cross-engine-exact variant: element-wise products are computed in
DECIMAL(18,9) (exact, order-independent sums) so a DuckDB oracle
reproduces the same doubles bit-for-bit; the fast double variants are
for production use where an oracle isn't being matched.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# Plan-construction note (round 15, measured): building these
# higher-order expressions through the column API costs dozens of py4j
# round-trips per call site (lambda plumbing + literals), which added
# up to seconds per catalog-entry INVOCATION on the similarity paths —
# pure driver-side plan-construction overhead, nothing to do with
# execution. When the operand is a plain column NAME, each helper
# renders the SAME expression as one SQL string and parses it with a
# single expr() call; Column operands keep the column-API path. The
# parsed trees are arithmetic-identical (same casts, same fold order),
# so results are bit-for-bit unchanged — pinned by the oracle sweep.


def _sum_agg_sql(pair_sql: str, init: str) -> str:
    return f"aggregate({pair_sql}, {init}, (acc, v) -> acc + v)"


def dot_sql(a: str, b: str) -> str:
    """SQL text of the double-precision dot product of two array cols."""
    return _sum_agg_sql(
        f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))",
        "CAST(0 AS DOUBLE)",
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Double-precision dot product (fast path)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_sql(a, b))
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# Quantization scale for cross-engine-exact vector math. Embedding
# floats are quantized to round(x * 1e6) as int64; every product and sum
# is then integer-exact and order-independent, and round(double) agrees
# across engines (both round half away from zero). 64-dim products at
# |x| <~ 8 stay far below int64 range. The scale cancels in cosine.
QUANT = 1_000_000.0


def quantize_sql(a: str) -> str:
    """SQL text of the 1e6 quantization of a float-array column. The
    literal derives from QUANT so the str-operand and Column-operand
    paths of the same helper cannot desynchronize (round-15 ADVICE,
    low); tests/test_functions.py pins str/Column-path parity per
    helper."""
    return (
        f"transform({a}, x -> CAST(ROUND(CAST(x AS DOUBLE) * "
        f"CAST({int(QUANT)} AS DOUBLE)) AS BIGINT))"
    )


def quantize(a: Column | str) -> Column:
    """array<float> -> array<bigint>: round(x * 1e6)."""
    if isinstance(a, str):
        return F.expr(quantize_sql(a))
    return F.transform(
        _c(a), lambda x: F.round(x.cast("double") * F.lit(QUANT)).cast("bigint")
    )


def dot_q_sql(a: str, b: str) -> str:
    """SQL text of the int64 dot of two ALREADY-quantized
    (array<bigint>) columns — the verification-join kernel every
    similarity path shares."""
    return _sum_agg_sql(
        f"zip_with({a}, {b}, (x, y) -> x * y)", "CAST(0 AS BIGINT)"
    )


def dot_q(a: str, b: str) -> Column:
    return F.expr(dot_q_sql(a, b))


def l2sq_q_sql(a: str, b: str) -> str:
    """SQL text of the int64 squared-L2 distance of two quantized
    columns (`sum (x-y)^2`)."""
    return _sum_agg_sql(
        f"zip_with({a}, {b}, (x, y) -> (x - y) * (x - y))",
        "CAST(0 AS BIGINT)",
    )


def l2sq_q(a: str, b: str) -> Column:
    return F.expr(l2sq_q_sql(a, b))


def pos_array(pos: str, val: str) -> Column:
    """Aggregate folding a group's long (pos, val) rows into the array
    of `val` ordered by `pos` (collect_list(struct) -> array_sort ->
    transform) — how centroids and codebook cells built position by
    position become one broadcastable array row."""
    return F.expr(
        f"transform(array_sort(collect_list(struct({pos}, {val}))), "
        f"s -> s.{val})"
    )


def dot_exact_sql(a: str, b: str) -> str:
    return _sum_agg_sql(
        f"zip_with({quantize_sql(a)}, {quantize_sql(b)}, (x, y) -> x * y)",
        "CAST(0 AS BIGINT)",
    )


def dot_exact(a: Column | str, b: Column | str) -> Column:
    """Integer-exact quantized dot product (units of 1e-12 of true scale)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_exact_sql(a, b))
    prods = F.zip_with(quantize(a), quantize(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def cosine_exact(a: Column | str, b: Column | str) -> Column:
    """Cosine over the quantized vectors: integer dots/norms, then IEEE
    sqrt+divide — any engine computing this recipe produces the same
    double bit-for-bit (the 1e6 quantization scale cancels)."""
    return dot_exact(a, b).cast("double") / (
        F.sqrt(dot_exact(a, a).cast("double")) * F.sqrt(dot_exact(b, b).cast("double"))
    )
