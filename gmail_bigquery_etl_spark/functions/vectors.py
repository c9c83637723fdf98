"""Vector (embedding) column functions over ArrayType(FloatType).

Pure higher-order-function arithmetic -- zip_with/aggregate run JVM-side, so
a brute-force cosine scan at 100 TB is a single codegen'd projection with no
Python in the hot path. Accumulation is float64 regardless of the (float32)
storage type, matching what the DuckDB oracle computes.

Optimization r11 (guide §7.3 driver work): creating ONE zip_with/aggregate
pair through the structured pyspark API costs ~88 py4j roundtrips (lambda
variables, function refs, column boxing) -- profiled at 30-90 ms per fold
on a busy driver, and similarity queries build dozens of folds, so
DataFrame CONSTRUCTION dominated several benched queries. When the operands
are plain column NAMES the same tree is now built with ONE F.expr parse;
the parsed expression is identical (same zip_with/aggregate nodes, same
float64 left fold), so plans and results are bit-for-bit unchanged. Column
operands keep the structured path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _qid(name: str) -> str:
    """Backtick-quote a (possibly alias-qualified) column name for SQL
    interpolation (ADVICE r11): each dot-separated segment quotes
    independently, so both plain names and ``alias.col`` references keep
    resolving -- and names that are not plain identifiers (spaces,
    hyphens, leading digits), which F.col accepted, now parse instead of
    erroring or misparsing. The resolved plan is unchanged for names
    that already parsed.

    Contract: a name must not contain a literal dot. Every ``.`` is read
    as an ``alias.col`` separator, so a column literally named ``a.b``
    would resolve as column ``b`` of alias ``a`` (or fail to parse);
    pass such a column as a Column (``F.col("`a.b`")``), which keeps the
    structured path."""
    return ".".join(
        "`" + seg.replace("`", "``") + "`" for seg in name.split(".")
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({_qid(a)}, {_qid(b)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    prods = F.zip_with(
        _c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(f"sqrt({_dot_sql(a, a)})")
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"{_dot_sql(a, b)} / nullif("
            f"sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}), 0.0D)"
        )
    denom = F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))
    return dot(a, b) / denom


def max_abs(a: Column | str) -> Column:
    """Largest |element| as float64. Max is associative/exact on doubles,
    so the left-fold result is partitioning- and engine-independent."""
    if isinstance(a, str):
        return F.expr(
            f"aggregate({_qid(a)}, 0.0D, "
            "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
        )
    return F.aggregate(
        _c(a), F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )


def int_dot(a: Column | str, b: Column | str) -> Column:
    """Exact int64 dot product of two integer-code arrays (int8-range
    codes: |q| <= 127, so d * 127^2 stays far inside int64 -- no ANSI
    overflow)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with({_qid(a)}, {_qid(b)}, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def normalize(a: Column | str) -> Column:
    """Unit-normalize; zero vectors come back unchanged (not NULL/NaN)."""
    col = _c(a)
    nrm = F.nullif(l2_norm(col), F.lit(0.0))
    return F.when(nrm.isNull(), col).otherwise(
        F.transform(col, lambda x: (x.cast("double") / nrm).cast("float"))
    )
