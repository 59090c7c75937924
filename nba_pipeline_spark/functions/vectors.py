"""Vector math over array<float> embedding columns (SURVEY.md §2.10 X4).

JVM-side higher-order functions (zip_with/aggregate) — no Python in
the inner loop. Floats are widened to double before accumulation so
results are engine-portable (and match a double-precision oracle).

Every builder here takes SQL text (a quoted column name from
`sql_ident`, a plain internal column name, or another builder's output)
and returns SQL text (`*_sql`) or one `F.expr` of it, which parses the
whole tree in the JVM in a single call. Building the same tree through
the Python Column/lambda API costs ~25-65 ms of py4j round-trips per
expression at plan-construction time (measured: cosine 65 ms,
to_double_array 25 ms vs 0.4 ms for one parse), and the similarity/ANN
tier constructs them in every query.
Lambda variables are `__`-prefixed so composed texts never capture a
caller's column. NULL vectors, zero norms and length mismatches are
pinned against a Column-API reference in tests/test_dedup_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_ident(name: str) -> str:
    """Backtick-quote a column name for splicing into SQL text."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """A Python string as Spark SQL text that evaluates to `s` in both
    parser modes (`spark.sql.parser.escapedStringLiterals` on or off):
    a plain quoted literal when `s` holds no backslash or quote, else
    its UTF-8 bytes as hex digits decoded in-plan (constant-folded)."""
    if "\\" not in s and "'" not in s:
        return f"'{s}'"
    return f"decode(unhex('{s.encode().hex()}'), 'UTF-8')"


def to_double_array_sql(a: str) -> str:
    return f"transform({a}, __td -> cast(__td as double))"


def to_double_array(a: str) -> Column:
    return F.expr(to_double_array_sql(a))


def dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (__x, __y) -> __x * __y), 0.0D, "
        f"(__acc, __v) -> __acc + __v)"
    )


def dot_fixed_sql(a: str, b: str, dims: int) -> str:
    """Dot product unrolled for a known dimensionality.

    Left-associated from 0.0D so the float accumulation order is
    IDENTICAL to ``dot_sql`` (aggregate's acc chain) — bit-compatible
    results.

    Faster than the HOF ``dot_sql`` ONLY inside whole-stage-codegen'd
    projections (zero allocation vs a 64-elem zip_with array per row).
    In INTERPRETED contexts — join conditions, where Catalyst pushes
    threshold filters — the relationship inverts hard: one
    zip_with/aggregate loop node beats this 64-term tree with 128
    subscript nodes ~4-6x (re-measured at sf0.1: 4.4 s vs 0.7 s in the
    LSH pair join). Rule: unrolled for codegen projects (csim, knn
    select), HOF for anything that can land in a join condition.
    """
    return "0.0D" + "".join(f" + {a}[{i}] * {b}[{i}]" for i in range(dims))


def norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (__na, __nx) -> __na + __nx * __nx))"


def cosine_sql(a: str, b: str) -> str:
    """Cosine similarity; NULL-safe on zero-norm vectors (try_divide).

    Both inputs are let-bound through a 1-element-array transform
    (evaluated once per row even when `a`/`b` are computed expressions
    such as `to_double_array_sql(col)`): each is referenced twice, by
    the dot and by its norm."""
    inner = (
        f"try_divide({dot_sql('__ca', '__cb')}, "
        f"{norm_sql('__ca')} * {norm_sql('__cb')})"
    )
    return (
        f"element_at(transform(array({a}), __ca -> "
        f"element_at(transform(array({b}), __cb -> {inner}), 1)), 1)"
    )


def cosine_expr(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))
