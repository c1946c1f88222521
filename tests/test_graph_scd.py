"""Property tests for SCD Type-2 history building and PageRank."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from cruncher_spark.merge.scd import scd2_history
from cruncher_spark.operators.graph import pagerank


@pytest.fixture(scope="module")
def change_feed(spark):
    """Deterministic random change feed: 40 keys, ~12 observations each,
    3 possible attribute values so runs of repeats occur naturally."""
    rng = random.Random(7)
    rows = [
        (k, rng.choice(["a", "b", "c"]), t * 10 + rng.randint(0, 5), t)
        for k in range(40)
        for t in range(rng.randint(3, 12))
    ]
    return spark.createDataFrame(rows, "k long, attr string, ts long, seq int")


def test_scd2_invariants(spark, change_feed):
    hist = scd2_history(change_feed, "k", "attr", "ts", "seq").collect()
    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    assert set(by_key) == {r.k for r in change_feed.select("k").distinct().collect()}
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r.version)
        # versions are 1..n with exactly one current
        assert [r.version for r in rows] == list(range(1, len(rows) + 1))
        assert [r.is_current for r in rows].count(True) == 1 and rows[-1].is_current
        for a, b in zip(rows, rows[1:]):
            # intervals tile the timeline and versions only exist on change
            assert a.valid_to == b.valid_from
            assert a.attr != b.attr
        assert rows[-1].valid_to is None


def test_scd2_every_observation_lands_in_its_version(spark, change_feed):
    """Joining the raw feed back as-of reproduces each observation's
    attribute — the history loses no information besides run-compression."""
    hist = scd2_history(change_feed, "k", "attr", "ts", "seq").select(
        F.col("k").alias("hk"),
        F.col("attr").alias("hattr"),
        "valid_from",
        "valid_to",
    )
    joined = change_feed.join(
        hist,
        (F.col("k") == F.col("hk"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    )
    n_obs = change_feed.count()
    assert joined.count() == n_obs  # exactly one version per observation
    assert joined.where(F.col("attr") != F.col("hattr")).count() == 0


def test_pagerank_mass_and_hub(spark):
    """Ranks are a probability distribution (sum 1) and a star graph's hub
    out-ranks every leaf."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)] + [(1, 2)], "u long, v long"
    )
    pr = {r.id: r.pr for r in pagerank(edges, iters=5).collect()}
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-9)
    assert all(v > 0 for v in pr.values())
    hub = pr[0]
    assert all(hub > pr[i] for i in range(1, 9))


def test_star_cc_equals_propagation_cc(spark):
    """connected_components_star (large-star/small-star, the adversarial-
    shape fallback) must produce EXACTLY the min-label propagation
    kernel's labels on every shape: random sparse graphs, a long chain
    (the near-worst case for naive propagation), a star, disjoint
    cliques, and singleton-heavy edge lists."""
    import random

    from cruncher_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)

    def pairs_df(edges):
        return spark.createDataFrame(
            [(a, b) for a, b in edges], "a long, b long"
        )

    cases = {}
    # long chain 0-1-2-...-127: one component, diameter 127
    cases["chain"] = [(i, i + 1) for i in range(127)]
    # star centered at 500
    cases["star"] = [(500, 500 + i) for i in range(1, 40)]
    # two cliques + a bridge-free gap
    k1 = [(i, j) for i in range(10) for j in range(i + 1, 10)]
    k2 = [(100 + i, 100 + j) for i in range(8) for j in range(i + 1, 8)]
    cases["cliques"] = k1 + k2
    # random sparse
    cases["random"] = list(
        {(min(a, b), max(a, b))
         for a, b in ((rng.randrange(60), rng.randrange(60))
                      for _ in range(70)) if a != b}
    )
    # self-loops: a node appearing ONLY as (7,7) must still label itself
    # (r6 review: the star variant built its node universe from the
    # self-loop-filtered edge list and dropped such nodes)
    cases["selfloops"] = [(1, 2), (7, 7), (2, 2)]

    for name, edges in cases.items():
        df = pairs_df(edges)
        prop = {(r.id, r.comp)
                for r in connected_components(df, "a", "b").collect()}
        star = {(r.id, r.comp)
                for r in connected_components_star(df, "a", "b").collect()}
        assert star == prop, name
        assert star, name
    # chain sanity: every node labeled 0
    chain_star = {
        r.comp
        for r in connected_components_star(
            pairs_df(cases["chain"]), "a", "b"
        ).collect()
    }
    assert chain_star == {0}
