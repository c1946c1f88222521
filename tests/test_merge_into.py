"""SQL merge oracle (``merge/merge_into.py``).

The portable SELECT rendering runs on DuckDB over the same data
``PointTable.merge`` folds, and the post-merge states must be
value-identical: the per-policy expressions (the reference's
ON-DUPLICATE-KEY-UPDATE semantics — crunch_global.sql:68-87 add,
crunch_player.sql:49 max, crunch_team.sql:41-42 overwrite, keep = column
absent) are proven by execution.
"""

from __future__ import annotations

import duckdb
import pytest

from cruncher_spark.merge import (
    MergePolicy,
    PointTable,
    merge_as_select_sql,
)

KEY = ["series", "hero"]
POLICIES = {
    "played": MergePolicy.ADD,
    "kda_max": MergePolicy.MAX,
    "title": MergePolicy.OVERWRITE,
    "created_at": MergePolicy.KEEP,
    "dmg": MergePolicy.ADD,  # double → DECIMAL-exact add
}
DTYPES = {
    "played": "bigint",
    "kda_max": "bigint",
    "title": "string",
    "created_at": "bigint",
    "dmg": "double",
}
COLUMNS = ["played", "kda_max", "title", "created_at", "dmg"]


def test_identifiers_with_quotes_rejected():
    with pytest.raises(ValueError):
        merge_as_select_sql("t`x", "s", ["k"], ["a"])
    with pytest.raises(ValueError):
        merge_as_select_sql("t", "s", ['k"'], ["a"])


def test_select_form_matches_point_table_merge(spark, tmp_path):
    """Execution-level: DuckDB runs the SELECT rendering; PointTable folds
    the same delta. Post-merge states must agree value-for-value,
    including NULL-propagating adds and NULL-keeps-old max."""
    schema = (
        "series string, hero string, played long, kda_max long, "
        "title string, created_at long, dmg double"
    )
    state_rows = [
        ("s1", "h1", 3, 7, "old", 100, 1.5),
        ("s1", "h2", None, None, "old2", 200, None),  # NULL state survives adds as NULL
        ("s2", "h1", 10, 2, "old3", 300, 0.25),
    ]
    delta_rows = [
        ("s1", "h1", 2, 5, "new", 999, 0.5),    # matched: add/max-keeps-old/overwrite/keep
        ("s1", "h2", 4, 9, "new2", 999, 2.0),   # matched vs NULL state
        ("s3", "h9", 1, 1, "ins", 400, 3.0),    # not matched: plain insert
    ]

    pt = PointTable(spark, str(tmp_path / "pt"), KEY, POLICIES)
    pt.merge(spark.createDataFrame(state_rows, schema), batch_id="b0")
    pt.merge(spark.createDataFrame(delta_rows, schema), batch_id="b1")
    got = {
        (r["series"], r["hero"]): (
            r["played"], r["kda_max"], r["title"], r["created_at"], r["dmg"]
        )
        for r in pt.read().collect()
    }

    con = duckdb.connect()
    ddl = (
        "series VARCHAR, hero VARCHAR, played BIGINT, kda_max BIGINT, "
        "title VARCHAR, created_at BIGINT, dmg DOUBLE"
    )
    con.execute(f"CREATE TABLE state ({ddl}); CREATE TABLE delta ({ddl})")
    con.executemany("INSERT INTO state VALUES (?,?,?,?,?,?,?)", state_rows)
    con.executemany("INSERT INTO delta VALUES (?,?,?,?,?,?,?)", delta_rows)
    sel = merge_as_select_sql("state", "delta", KEY, COLUMNS, POLICIES, DTYPES)
    want = {
        (r[0], r[1]): tuple(r[2:])
        for r in con.execute(sel).fetchall()
    }
    assert got == want
    # the interesting rows really exercised the policies
    assert got[("s1", "h1")] == (5, 7, "new", 100, 2.0)
    assert got[("s1", "h2")] == (None, None, "new2", 200, None)
    assert got[("s3", "h9")] == (1, 1, "ins", 400, 3.0)
