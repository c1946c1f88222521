"""Lakehouse ``MERGE INTO`` emitter for :class:`PointTable` merge specs.

The bespoke :mod:`cruncher_spark.merge.upsert` format gives O(delta·bucket)
merges over plain parquet; a deployment already running Delta Lake or
Iceberg wants the SAME per-column policy semantics as a real ``MERGE INTO``
statement (their engines then provide the data-skipping + atomic-commit
half that ``PointTable`` implements by hand). This module renders a
key/policies spec as that statement — the direct ANSI analog of the
reference's ``INSERT … ON DUPLICATE KEY UPDATE`` (crunch_global.sql:68-87,
crunch_player.sql:49, crunch_team.sql:41-42):

==========  ====================================  ===========================
policy      ON DUPLICATE KEY UPDATE (reference)   MERGE INTO WHEN MATCHED
==========  ====================================  ===========================
add         ``c = c + VALUES(c)``                 ``c = t.c + s.c``
max         ``c = CASE WHEN VALUES(c) > c …``     ``c = CASE WHEN s.c > t.c …``
overwrite   ``c = VALUES(c)``                     ``c = s.c``
keep        column absent from the UPDATE list    column absent from SET
==========  ====================================  ===========================

Two renderings share one expression builder:

- :func:`merge_into_sql` — the ``MERGE INTO`` statement for engines with
  row-level ops (Delta, Iceberg, Spark 3.4+ v2 tables).
- :func:`merge_as_select_sql` — the portable full-outer-join SELECT that
  computes the post-merge state on ANY SQL engine; the test suite executes
  it on DuckDB against :meth:`PointTable.merge` output, so the policy
  expressions are equivalence-checked by execution, not by eye (the MERGE
  rendering is then string-tested over the same builder).

Both match ``PointTable.merge`` exactly, including the NULL-propagating
``add`` (MySQL ``NULL + x = NULL``), the NULL-keeps-old ``max``
comparison, and the DECIMAL(28,6) exact accumulation for double-typed
``add`` columns.

Contract: **merge-key columns must be non-NULL**, exactly as in the
reference (the point tables' PRIMARY KEY columns are implicitly NOT
NULL). A NULL-valued key is outside the contract and the three forms
intentionally do not promise agreement on it: ``MERGE``'s
``IS NOT DISTINCT FROM`` match would treat two NULL keys as the same
row, while the SELECT form detects row presence via
``key IS NOT NULL`` and ``PointTable.merge`` groups NULL keys as one.
Filter or fail NULL keys upstream.
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
    """WHEN MATCHED value for measure column ``c``; None = leave untouched.

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


def merge_into_sql(
    target: str,
    source: str,
    key: Sequence[str],
    columns: Sequence[str],
    policies: Mapping[str, MergePolicy] | None = None,
    dtypes: Mapping[str, str] | None = None,
) -> str:
    """Render the spec as one ``MERGE INTO`` statement.

    ``columns`` are the measure columns (key columns excluded);
    ``policies`` defaults every measure to ADD (the dominant reference
    policy); ``dtypes`` (column → SQL type name) opts double-typed adds
    into the exact DECIMAL accumulation.
    """
    policies = dict(policies or {})
    dtypes = dict(dtypes or {})
    key = [_check_ident(k) for k in list(key)]
    columns = [_check_ident(c) for c in columns if c not in key]
    sets = []
    for c in columns:
        expr = _matched_expr(c, policies.get(c, MergePolicy.ADD), dtypes.get(c))
        if expr is not None:
            sets.append(f"t.{c} = {expr}")
    all_cols = [*key, *columns]
    insert_cols = ", ".join(all_cols)
    insert_vals = ", ".join(f"s.{c}" for c in all_cols)
    matched = (
        "WHEN MATCHED THEN UPDATE SET\n  " + ",\n  ".join(sets) + "\n"
        if sets
        else ""  # every column KEEP → first insert wins, nothing to update
    )
    return (
        f"MERGE INTO {_check_ident(target)} AS t\n"
        f"USING {_check_ident(source)} AS s\n"
        f"ON {_on_clause(key)}\n"
        f"{matched}"
        f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
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

    Runs on any SQL engine (no row-level ops needed) — use it to stage the
    merged state and swap it in, or as the executable oracle for the MERGE
    rendering (tests/test_merge_into.py runs it on DuckDB against
    ``PointTable.merge``).
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
