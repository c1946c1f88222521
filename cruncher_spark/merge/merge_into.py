"""SQL oracle for :class:`PointTable` merge specs.

:func:`merge_as_select_sql` renders a key/policies spec as a portable
full-outer-join ``SELECT`` that computes the post-merge state on any SQL
engine. The test suite runs it on DuckDB against :meth:`PointTable.merge`
output, so the per-column policy expressions are checked by execution,
not by eye. Each policy is the SQL analog of the reference's
``INSERT … ON DUPLICATE KEY UPDATE`` (crunch_global.sql:68-87,
crunch_player.sql:49, crunch_team.sql:41-42):

==========  ====================================  ===========================
policy      ON DUPLICATE KEY UPDATE (reference)   matched row (this oracle)
==========  ====================================  ===========================
add         ``c = c + VALUES(c)``                 ``t.c + s.c``
max         ``c = CASE WHEN VALUES(c) > c …``     ``CASE WHEN s.c > t.c …``
overwrite   ``c = VALUES(c)``                     ``s.c``
keep        column absent from the UPDATE list    ``t.c``
==========  ====================================  ===========================

It matches ``PointTable.merge`` exactly, including the NULL-propagating
``add`` (MySQL ``NULL + x = NULL``), the NULL-keeps-old ``max``
comparison, and the DECIMAL(28,6) exact accumulation for double-typed
``add`` columns.

Contract: **merge-key columns must be non-NULL**, exactly as in the
reference (the point tables' PRIMARY KEY columns are implicitly NOT
NULL). A NULL-valued key is outside the contract and the two forms
intentionally do not promise agreement on it: the SELECT form detects
row presence via ``key IS NOT NULL``, while ``PointTable.merge`` groups
NULL keys as one. Filter or fail NULL keys upstream.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from cruncher_spark.merge.upsert import MergePolicy

#: double/float SQL type names (lowercased) routed through exact DECIMAL adds
_FLOATING = {"double", "float", "real", "double precision"}


def _check_ident(name: str) -> str:
    if '"' in name or "`" in name:
        raise ValueError(f"identifier must not contain quotes: {name!r}")
    return name


def _matched_expr(c: str, policy: MergePolicy, dtype: str | None) -> str | None:
    """Matched-row value for measure column ``c``; None = leave untouched.

    Mirrors ``upsert.PointTable._pair_expr`` policy-by-policy.
    """
    _check_ident(c)
    if policy == MergePolicy.KEEP:
        return None
    if policy in (MergePolicy.ADD, MergePolicy.ADD_NULLSAFE):
        if (
            policy == MergePolicy.ADD
            and dtype is not None
            and dtype.lower() in _FLOATING
        ):
            cast_back = "DOUBLE" if dtype.lower() != "float" else "FLOAT"
            add = (
                f"CAST(CAST(t.{c} AS DECIMAL(28,6)) + "
                f"CAST(s.{c} AS DECIMAL(28,6)) AS {cast_back})"
            )
        else:
            # ADD_NULLSAFE: plain addition — SQL SUM semantics for doubles
            # (see upsert.py); DECIMAL-typed measures stay exact here
            add = f"t.{c} + s.{c}"
        if policy == MergePolicy.ADD_NULLSAFE:
            return (
                f"CASE WHEN s.{c} IS NULL THEN t.{c} "
                f"WHEN t.{c} IS NULL THEN s.{c} ELSE {add} END"
            )
        return add
    if policy == MergePolicy.MAX:
        # NULL source (or NULL target) keeps old, like the reference's CASE
        return f"CASE WHEN s.{c} > t.{c} THEN s.{c} ELSE t.{c} END"
    if policy == MergePolicy.LEAST:
        # ANSI LEAST/GREATEST are null-propagating in some engines; the
        # COALESCE form is the portable null-aware spelling
        return f"COALESCE(LEAST(s.{c}, t.{c}), s.{c}, t.{c})"
    if policy == MergePolicy.GREATEST:
        return f"COALESCE(GREATEST(s.{c}, t.{c}), s.{c}, t.{c})"
    return f"s.{c}"  # OVERWRITE


def _on_clause(key: Sequence[str]) -> str:
    return " AND ".join(
        f"t.{_check_ident(k)} IS NOT DISTINCT FROM s.{k}" for k in key
    )


def merge_as_select_sql(
    target: str,
    source: str,
    key: Sequence[str],
    columns: Sequence[str],
    policies: Mapping[str, MergePolicy] | None = None,
    dtypes: Mapping[str, str] | None = None,
) -> str:
    """Render the spec as a full-outer-join SELECT of the post-merge state.

    Runs on any SQL engine (no row-level ops needed);
    tests/test_merge_into.py runs it on DuckDB against ``PointTable.merge``.
    """
    policies = dict(policies or {})
    dtypes = dict(dtypes or {})
    key = [_check_ident(k) for k in list(key)]
    columns = [_check_ident(c) for c in columns if c not in key]
    in_src = f"s.{key[0]} IS NOT NULL"
    in_tgt = f"t.{key[0]} IS NOT NULL"
    cols = [f"COALESCE(t.{k}, s.{k}) AS {k}" for k in key]
    for c in columns:
        expr = _matched_expr(c, policies.get(c, MergePolicy.ADD), dtypes.get(c))
        if expr is None:  # KEEP: target wins when present
            expr = f"t.{c}"
        cols.append(
            f"CASE WHEN {in_src} AND {in_tgt} THEN {expr} "
            f"WHEN {in_src} THEN s.{c} ELSE t.{c} END AS {c}"
        )
    sel = ",\n  ".join(cols)
    return (
        f"SELECT\n  {sel}\n"
        f"FROM {_check_ident(target)} t\n"
        f"FULL OUTER JOIN {_check_ident(source)} s\n"
        f"ON {_on_clause(key)}"
    )
