"""End-to-end curation pipeline: the composability capstone.

Every stage below is an operator this engine ships; the test proves
they COMPOSE into the pipeline a real training-data run executes —
raw JSONL in, packed + partitioned training shards out — with row
accounting asserted at every boundary:

  JSONL read (explicit schema)
    -> quality gate -> exact dedup -> near-dup dedup (MinHash+LSH)
    -> benchmark decontamination -> deterministic split (train only)
    -> sequence packing -> partitioned parquet -> read-back audit

The read-back audit re-runs the detection operators over the OUTPUT:
zero remaining exact dups, zero remaining contamination — the
self-check a production pipeline lands alongside its data.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cruncher_spark.functions.text import n_words, portable_hash64
from cruncher_spark.operators.curation import contaminated_ids, sequence_pack
from cruncher_spark.operators.dedup import (
    exact_dedup_survivors,
    minhash_dedup_pairs,
    shingle_arrays,
)

SF_DIR = "/root/testdata/sf0.001"

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("e2e")

    # --- stage 0: raw JSONL ----------------------------------------------
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    raw_lines = [json.dumps(r.asDict()) for r in docs.collect()]
    src = root / "raw.jsonl"
    src.write_text("\n".join(raw_lines) + "\n")

    ingested = spark.read.schema(SCHEMA).json(str(src))
    n_raw = docs.count()

    # --- stage 1: quality gate -------------------------------------------
    quality = ingested.where(n_words("text") >= 5)

    # --- stage 2: exact dedup --------------------------------------------
    keep_exact = exact_dedup_survivors(quality, "doc_id", "text")
    exact = quality.join(keep_exact.select("doc_id"), "doc_id", "left_semi")

    # --- stage 3: near-dup dedup (MinHash+LSH, drop larger ids) ----------
    pairs = minhash_dedup_pairs(exact, "doc_id", "text")
    drop_near = pairs.select(
        F.greatest("id_a", "id_b").alias("doc_id")
    ).distinct()
    neardup = exact.join(drop_near, "doc_id", "left_anti")

    # --- stage 4: decontamination against an eval set ---------------------
    eval_set = docs.orderBy("doc_id").limit(5)
    bad = contaminated_ids(
        shingle_arrays(neardup, "doc_id", "text", 3),
        shingle_arrays(eval_set, "doc_id", "text", 3),
        "doc_id",
    )
    clean = neardup.join(bad, "doc_id", "left_anti")

    # --- stage 5: deterministic split, keep train -------------------------
    h = portable_hash64(F.col("doc_id").cast("string"), "split") % 100
    train = clean.withColumn(
        "split",
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test"),
    ).where(F.col("split") == "train")

    # --- stage 6: sequence packing ----------------------------------------
    packed = sequence_pack(
        train, pack_tokens=256, n_shards=4, token_count_col=n_words("text")
    )

    # --- stage 7: partitioned parquet out ---------------------------------
    out = str(root / "out")
    (
        train.join(packed.select("doc_id", "shard", "start_tok", "end_tok"), "doc_id")
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(out)
    )

    counts = {
        "raw": n_raw,
        "ingested": ingested.count(),
        "quality": quality.count(),
        "exact": exact.count(),
        "neardup": neardup.count(),
        "clean": clean.count(),
        "train": train.count(),
    }
    return {
        "spark": spark,
        "root": root,
        "counts": counts,
        "out": out,
        "eval_set": eval_set,
        "packed": packed,
    }


def test_accounting_is_monotone_and_explained(pipeline):
    c = pipeline["counts"]
    # every line ingested
    assert c["ingested"] == c["raw"]
    # each stage only removes rows, and the final corpus is non-trivial
    order = ["ingested", "quality", "exact", "neardup", "clean", "train"]
    for a, b in zip(order, order[1:]):
        assert c[a] >= c[b], (a, b, c)
    assert c["train"] > 0


def test_output_has_no_exact_dups_and_no_contamination(pipeline):
    spark = pipeline["spark"]
    out = spark.read.parquet(pipeline["out"])
    # re-run the detectors over the OUTPUT: the self-audit must be clean
    assert (
        out.groupBy(F.md5("text")).count().where(F.col("count") > 1).count()
        == 0
    )
    still_bad = contaminated_ids(
        shingle_arrays(out, "doc_id", "text", 3),
        shingle_arrays(pipeline["eval_set"], "doc_id", "text", 3),
        "doc_id",
    )
    assert still_bad.count() == 0


def test_packing_ranges_are_contiguous_per_shard(pipeline):
    rows = pipeline["packed"].orderBy("shard", "doc_id").collect()
    pos: dict[int, int] = {}
    for r in rows:
        expect = pos.get(r["shard"], 0)
        assert r["start_tok"] == expect, r
        assert r["end_tok"] == expect + r["n_tokens"]
        pos[r["shard"]] = r["end_tok"]
    assert len(pos) > 1  # really sharded


def test_partitioned_output_prunes(pipeline):
    spark = pipeline["spark"]
    out = spark.read.parquet(pipeline["out"])
    one_source = out.select("source").first()["source"]
    plan = (
        out.where(F.col("source") == one_source)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan and "source" in plan
