"""Scalar helpers shared across plans.

The reference needs only built-in SQL scalars (SURVEY.md §2.6); the two
engine-specific items handled here are exact cross-engine summation of
cent-valued doubles and the POSIX→Java regex dialect translation
(worker.js:199-201 uses ``[[:digit:]]``, which Java regex lacks).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

#: POSIX bracket classes → Java regex equivalents (only classes the
#: reference's build regexes use, plus the common ones for completeness).
_POSIX_CLASSES = {
    "[:digit:]": r"\d",
    "[:alpha:]": r"\p{Alpha}",
    "[:alnum:]": r"\p{Alnum}",
    "[:space:]": r"\s",
    "[:upper:]": r"\p{Upper}",
    "[:lower:]": r"\p{Lower}",
}


def posix_to_java_regex(pattern: str) -> str:
    """Translate MySQL/POSIX character classes to Java regex.

    The reference binds ``^([[:digit:]]+;[[:digit:]]+,)*`` style fragments
    into its build-match RLIKE (worker.js:199-201); Spark's ``rlike`` is
    Java regex, so ``[[:digit:]]`` (a bracket expression containing the
    POSIX class) becomes ``[\\d]``.
    """
    out = pattern
    for posix, java in _POSIX_CLASSES.items():
        out = out.replace(posix, java)
    return out


def sql_literal(v) -> str:
    """A Python scalar as Spark SQL literal text: strings single-quoted,
    anything else (numbers) bare. Spark SQL string literals process
    backslash escapes, so backslashes are escaped along with quotes (a Java
    regex's ``[\\d]`` would otherwise silently become ``[d]``)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if not isinstance(v, str):
        return str(v)
    s = v.replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def dsum(col: str | Column, alias: str, scale: int = 2) -> Column:
    """Exactly-reproducible sum of a cent-valued double column.

    Doubles are summed order-dependently, so a Spark sum and a DuckDB sum of
    the same column can differ in the last ulp and break value-hash
    comparison. Casting to DECIMAL(18,scale) first makes the sum exact (and
    engine/order independent); the final cast back to double renders
    identically everywhere. Oracle-side mirror: ``oracle_dsum``.
    """
    if isinstance(col, str):
        # one parsed expression instead of four gateway-built Column
        # nodes (optimization r12: the crunch measure lists construct
        # dozens of these per plan build; py4j round-trip latency made
        # expression construction a measurable share of bench wall).
        # Identical aggregate tree — values unchanged.
        return F.expr(
            f"CAST(SUM(CAST(`{col}` AS DECIMAL(18,{scale}))) AS DOUBLE)"
        ).alias(alias)
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double").alias(alias)


def oracle_dsum(expr: str, alias: str, scale: int = 2) -> str:
    """DuckDB SQL fragment mirroring :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def sql_double(v: float) -> str:
    """One SQL double literal for generated-expression builders.

    ``repr`` emits the shortest round-tripping decimal for every FINITE
    double and Spark's parser is correctly rounded, so values are
    bit-identical to the ``F.lit`` form's. Non-finite values (a diverging
    training run's inf/nan) have no bare literal form — ``repr`` yields
    ``inf``/``nan``, whose ``infD`` spelling fails to parse where the old
    ``F.lit`` path handled them (ADVICE r12) — so they are emitted as the
    CAST-from-string Spark defines for them.
    """
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"


def quote_ident(name: str) -> str:
    """Backtick-quote a column NAME for splicing into a generated SQL
    fragment (ADVICE r12: the string-path expression builders interpolated
    names unquoted, so a name with a space, hyphen, or reserved word broke
    or misparsed). Embedded backticks escape by doubling, per Spark's
    quoted-identifier rules."""
    return "`" + name.replace("`", "``") + "`"
