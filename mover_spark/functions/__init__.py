"""Curated scalar/array function surface of the engine.

The reference owns almost no scalar functions — only `{attr}` templating and
the faker family (/root/reference/etl/sanitizer.go:66-124); everything else
in a user's seed query is evaluated by PostgreSQL (SURVEY.md §2.2). A
replacement engine must therefore expose the function surface itself. This
package re-exports the engine's reusable column builders from their operator
homes and adds the generic string/date/array helpers used by the
function-surface queries.

Everything here is a Column expression (JVM-side, codegen-friendly) unless
explicitly named *_udf — the Arrow-vectorized kernels for work the built-in
functions cannot express efficiently.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.analytics import davg, dsum
from ..operators.dedup import (
    jaccard_col,
    minhash_signature_udf,
    qcosine,
    qdot,
    quantized_vec,
    shingles_udf,
    simhash_col,
    simhash_udf,
    words_col,
)
from ..operators.sanitize import compile_template, fake_column

__all__ = [
    "davg",
    "dsum",
    "jaccard_col",
    "minhash_signature_udf",
    "qcosine",
    "qdot",
    "quantized_vec",
    "shingles_udf",
    "simhash_col",
    "simhash_udf",
    "words_col",
    "compile_template",
    "fake_column",
    "initials_col",
    "null_safe_div",
    "date_bucket_col",
]


def initials_col(name: Column | str, sep: str = " ") -> Column:
    """Uppercase initials of a separated name ('John Ronald Doe' -> 'JRD')."""
    c = F.col(name) if isinstance(name, str) else name
    return F.array_join(
        F.transform(F.split(c, sep), lambda w: F.upper(F.substring(w, 1, 1))), ""
    )


def null_safe_div(num: Column, den: Column) -> Column:
    """num/den with NULL (not error/NaN) on zero denominator."""
    return F.when(den != 0, num / den)


def date_bucket_col(ts: Column | str, unit: str = "week") -> Column:
    """Stable date bucketing (date_trunc thin wrapper, ntz-preserving)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_trunc(unit, c).cast("timestamp_ntz")
