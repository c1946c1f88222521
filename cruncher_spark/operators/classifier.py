"""Distributed training of a hashed-feature logistic-regression document
classifier — the "quality/language classifier" stage of LLM data
pipelines (GPT-3's WebText LR filter, CCNet's fasttext lang-id class),
expressed as pure DataFrame algebra so a 100 TB corpus trains without a
single row leaving the cluster.

Model: ``p = sigmoid(w · x)`` over hashed bag-of-words counts (feature
hashing, Weinberger et al. 2009 — vocabulary never materializes; any
token stream maps into ``dim`` buckets via the engine-portable md5 hash)
plus a bias bucket. Training is full-batch gradient descent with a fixed
iteration count — the same fixed-K discipline as the PageRank gate, so
the DuckDB oracle can unroll the rounds as chained CTEs and match every
weight bit-for-bit.

Cross-engine float determinism (the pagerank/tfidf discipline):

- per-(doc,bucket) margin terms and per-(doc,bucket) gradient
  contributions are CAST to DECIMAL(28,14) before their sums, making
  both aggregations exact and order-independent (a plain double sum
  varies with partitioning);
- the sigmoid output is rounded to 9 decimals — ``exp`` is the one
  libm call in the loop and engines may differ in the last ulp; at 1e-9
  granularity a flip needs the true value within ~1e-17 of a boundary;
- weights round to 14 decimals after each update, so every round starts
  from an identical, exactly-representable state.

Scale shape: the feature table is one corpus-sized (doc, bucket)
aggregate. Each round is (a) margin: feature ⋈ weight table on bucket —
the weight side is ``dim + 1`` rows, broadcast at any realistic dim —
then one per-doc decimal sum; (b) gradient: one per-bucket decimal sum;
(c) update: a ``dim``-sized join. Nothing iterates over raw text after
the one feature pass, and no step ever collects corpus-sized data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cruncher_spark.functions.scalars import sql_double
from cruncher_spark.functions.text import portable_hash64

#: decimal type for order-independent margin/gradient accumulation
_DEC = "decimal(28,14)"


def _round14(x: float) -> float:
    """Spark's ``round(double, 14)`` replicated exactly on the driver.

    Spark's Round over DoubleType evaluates
    ``BigDecimal(Double.toString(x)).setScale(14, HALF_UP).toDouble``;
    this quantizes Python's ``repr`` decimal the same way. Needed because
    the per-round weight update moved driver-side (one collect per GD
    round, no separate count job); weights must stay bit-identical to the
    lazy unrolled form the oracle unrolls.

    The two decimals are not always the same: JDK 17's ``Double.toString``
    is not always the shortest round-trip decimal. Measured on JDK
    17.0.20, two sets of 30,006 random bit patterns had 97 and 84 values
    whose decimal differs from ``repr``'s, every one with |x| > 2**53
    (smallest 1.96e16) or subnormal; 60,000 doubles in the weight range
    and 20,000 ties at the 15th decimal agreed. The rounded result agrees
    even there (bit-for-bit against Spark over the second set): both
    decimals round-trip to ``x``; above 2**53 they carry at most two
    decimals, so ``setScale(14)`` is exact and gives ``x`` back; a
    subnormal rounds to zero. ``BigDecimal`` has no negative zero, so a
    negative ``x`` that rounds to zero comes back as ``0.0``, never
    ``-0.0``; the ``+ 0.0`` below does the same. tests/test_classifier.py
    compares the bits with Spark's."""
    if x != x or x in (float("inf"), float("-inf")):
        return x
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    with localcontext() as ctx:
        ctx.prec = 400  # |x| up to 1e308 quantized at 1e-14 needs ~325 digits
        return float(
            Decimal(repr(x)).quantize(
                Decimal("1E-14"), rounding=ROUND_HALF_UP
            )
        ) + 0.0


def hashed_doc_features(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    salt: str = "lrfeat",
) -> DataFrame:
    """(id, bucket, x): token counts hashed into ``dim`` buckets plus a
    constant bias feature at bucket ``dim`` — one corpus pass, one
    aggregate."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select(
        id_col,
        F.pmod(portable_hash64("tok", salt), F.lit(dim)).alias("bucket"),
    )
    counts = toks.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("x")
    )
    bias = docs.select(
        F.col(id_col),
        F.lit(dim).cast("long").alias("bucket"),
        F.lit(1).cast("long").alias("x"),
    )
    return counts.select(id_col, "bucket", F.col("x").cast("long")).unionByName(
        bias
    )


def train_logreg(
    feats: DataFrame,
    labels: DataFrame,
    dim: int = 64,
    iters: int = 3,
    lr: float = 0.5,
    id_col: str = "doc_id",
    checkpoint: bool = True,
) -> DataFrame:
    """Fixed-``iters`` full-batch GD from zero weights; returns the
    ``dim + 1``-row (bucket, w) table. ``labels`` is (id, y) with y in
    {0, 1}; ``lr`` should be exactly representable in binary (0.5, 0.25,
    …) so the update arithmetic is identical everywhere.

    ``checkpoint=False`` keeps the whole unrolled iteration lazy —
    value-identical (pinned by test) but with the real multi-round plan
    visible to ``explain``; tests use it as the reference the execution
    path must match.

    ``checkpoint=True`` (the execution path) holds the weight vector on
    the DRIVER instead — ``dim + 1`` doubles, bounded by model size, the
    same bounded-collect class as dim lookups — and runs ONE Spark action
    per GD round (optimization r12, guide §2.4/§2.3): the per-doc margin
    rides a window over the feature rows' own ``id`` partitioning instead
    of a groupBy + join-back (one corpus-wide exchange per round, not
    two), the weight lookup is ``element_at`` on a literal array instead
    of a broadcast-exchange join, and (optimization r13) the label count
    is read off round 1's own bucket aggregate — the bias-bucket row
    count — instead of a separate count job, with the 64-row weight
    update computed driver-side. Arithmetic is step-for-step the old
    plan's (DECIMAL(28,14) sums, sigmoid round 9, weight round 14 —
    Spark's round replicated bit-exactly by :func:`_round14`), so the
    weights match the lazy form bit-for-bit (pinned by
    tests/test_classifier.py)."""
    spark = feats.sparkSession
    if checkpoint:
        return _train_logreg_driver_loop(feats, labels, dim, iters, lr, id_col)
    cut = lambda df: df  # noqa: E731 - lazy form
    n = labels.agg(F.count(F.lit(1)).alias("n"))
    w = cut(
        spark.range(dim + 1).select(
            F.col("id").alias("bucket"), F.lit(0.0).alias("w")
        )
    )

    for _ in range(iters):
        margin = (
            feats.join(F.broadcast(w), "bucket")
            .select(
                F.col(id_col),
                (F.col("w") * F.col("x")).cast(_DEC).alias("t"),
            )
            .groupBy(id_col)
            .agg(F.sum("t").cast("double").alias("margin"))
        )
        p = margin.select(
            F.col(id_col),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 9)
            .alias("p"),
        )
        grad = (
            feats.join(p, id_col)
            .join(labels, id_col)
            .select(
                "bucket",
                ((F.col("p") - F.col("y")) * F.col("x")).cast(_DEC).alias("g"),
            )
            .groupBy("bucket")
            .agg(F.sum("g").alias("g"))
        )
        w = (
            w.join(grad, "bucket", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "bucket",
                F.round(
                    F.col("w")
                    - F.lit(lr)
                    * F.coalesce(F.col("g").cast("double"), F.lit(0.0))
                    / F.col("n"),
                    14,
                ).alias("w"),
            )
        )
        w = cut(w)
    return w


def _w_lit(w_arr: list[float]):
    """Literal weight-array column for element_at lookups by bucket —
    ONE parsed SQL array (one py4j round trip; per-element F.lit, and
    lit(list) which PySpark expands element-wise, cost dim+1 calls per
    plan build). ``repr`` round-trips finite doubles exactly, so values
    are bit-identical to the per-element form's; non-finite weights (a
    diverging run) emit as CASTs via scalars.sql_double (ADVICE r12:
    'infD' failed to parse where the old F.lit path coped)."""
    return F.expr("array(" + ", ".join(sql_double(v) for v in w_arr) + ")")


def _margin_terms(w_arr: list[float]):
    """Per-feature-row margin term (w[bucket] * x) as the exact decimal —
    identical arithmetic to the broadcast-join form's ``w * x``."""
    return (
        F.element_at(_w_lit(w_arr), (F.col("bucket") + 1).cast("int"))
        * F.col("x")
    ).cast(_DEC)


def _train_logreg_driver_loop(
    feats: DataFrame,
    labels: DataFrame,
    dim: int,
    iters: int,
    lr: float,
    id_col: str,
    return_df: bool = True,
):
    """One-action-per-round GD (see :func:`train_logreg`). Weights live on
    the driver between rounds (dim + 1 doubles). Margins and gradient sums
    happen inside Spark with the exact expressions of the lazy unrolled
    form; the scalar per-bucket weight update runs driver-side with the
    same IEEE arithmetic and a bit-exact replica of Spark's round
    (:func:`_round14`), and n comes from round 1's own aggregate (the
    bias-bucket row count) instead of a separate count job — so the whole
    training is exactly ``iters`` Spark actions and results stay
    bit-identical (pinned by tests/test_classifier.py)."""
    spark = feats.sparkSession
    # one (id, bucket, x, y) table for every round — the label join happens
    # once, not once per round as the exchange-per-round form did. The
    # checkpoint is LAZY: round 1's gradient collect references fy exactly
    # once, so that job materializes (and persists) it as a side effect —
    # one fewer sequential action than the eager form (the CC-kernel
    # fusion discipline, optimization r12); rounds 2+ and the callers'
    # scoring passes read the cached RDD.
    #
    # The table is hash-partitioned AND sorted by id BEFORE the checkpoint
    # (guide §2.4 "two operations keyed the same way can share one
    # exchange"): every round's margin window and every scoring consumer
    # require ClusteredDistribution(id) + sort by id, so establishing that
    # layout once in the materialization job lets LogicalRDD's preserved
    # outputPartitioning/outputOrdering satisfy them all — rounds 2+ run
    # exchange-free and sort-free over the cached rows. AQE must be off
    # while the checkpoint is CREATED: under AQE the captured physical
    # plan is an AdaptiveSparkPlanExec whose partitioning is unknown at
    # creation time, so the layout would be re-derived (and re-paid) per
    # round; the consumer queries themselves run with AQE on as usual.
    # NOT concurrency-safe (ADVICE r12): this toggles AQE on the WHOLE
    # SparkSession for the (brief) checkpoint-creation window, so a query
    # planned concurrently from another thread of the same session would
    # silently plan without AQE. Fine in this single-driver engine; callers
    # embedding the trainer in a multi-threaded driver should clone the
    # session (spark.newSession()) for the trainer.
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_was = spark.conf.get(aqe_key, "true")
    spark.conf.set(aqe_key, "false")
    try:
        fy = (
            feats.join(labels, id_col)
            .repartition(F.col(id_col))
            .sortWithinPartitions(id_col)
            .localCheckpoint(eager=False)
        )
    finally:
        spark.conf.set(aqe_key, aqe_was)
    win = Window.partitionBy(id_col)
    w_arr = [0.0] * (dim + 1)
    n: int | None = None
    for it in range(iters):
        if it == 0:
            # all-zero weights: every margin term is (0 * x) — the decimal
            # sum is exactly 0 and p = round(1/(1+exp(-0)), 9) = 0.5 for
            # every doc. Partial evaluation of the same arithmetic: the
            # first round needs no margin exchange at all.
            p = F.lit(0.5)
        else:
            margin = F.sum(_margin_terms(w_arr)).over(win).cast("double")
            p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 9)
        grad = fy.select(
            F.col("bucket"),
            ((p - F.col("y")) * F.col("x")).cast(_DEC).alias("g"),
        ).groupBy("bucket").agg(
            F.sum("g").alias("g"), F.count(F.lit(1)).alias("cnt")
        )
        rows = grad.collect()
        if n is None:
            # n = |labels| is read off round 1's own aggregate instead of a
            # separate count job (optimization r13, guide §2.4 fewer
            # passes): the bias bucket (bucket == dim) holds exactly one
            # feature row per labeled doc — hashed_doc_features emits it
            # unconditionally and labels are one row per doc id — so its
            # group count IS the label count. At 100 TB that separate
            # count was a full corpus pass before training could start.
            n = next(
                (int(r["cnt"]) for r in rows if int(r["bucket"]) == dim),
                None,
            )
            if n is None:  # degenerate: empty corpus — preserve old n
                n = labels.agg(F.count(F.lit(1)).alias("n")).first()[0]
        for row in rows:
            # absent buckets keep their weight (round14 of an already-
            # rounded double is the identity the old left-join + coalesce
            # path computed). The update arithmetic is the SAME IEEE ops
            # the old in-plan expression ran — (lr * g_double) / n in
            # double, subtract, Spark-round at 14 (replicated exactly by
            # _round14) — with g_double = the correctly-rounded double of
            # the DECIMAL(28,14) sum, which float(Decimal) also is.
            b = int(row["bucket"])
            w_arr[b] = _round14(w_arr[b] - (lr * float(row["g"])) / n)
    if not return_df:
        return w_arr, fy
    return spark.createDataFrame(
        [(int(b), float(w)) for b, w in enumerate(w_arr)], "bucket long, w double"
    )


def train_logreg_array(
    feats: DataFrame,
    labels: DataFrame,
    dim: int = 64,
    iters: int = 3,
    lr: float = 0.5,
    id_col: str = "doc_id",
) -> tuple[list[float], DataFrame]:
    """Driver-held weight list from the one-action-per-round trainer,
    plus the trainer's checkpointed (id, bucket, x, y) feature table —
    scoring consumers aggregate over THAT instead of re-materializing the
    feature table and re-joining labels (one checkpoint per gate, not
    two)."""
    w_arr, fy = _train_logreg_driver_loop(
        feats, labels, dim, iters, lr, id_col, return_df=False
    )
    return w_arr, fy


def score_logreg_array(
    feats: DataFrame, w_arr: list[float], id_col: str = "doc_id"
) -> DataFrame:
    """(id, score) under driver-held weights: one aggregate, no weight
    join — the margin sums ``element_at(w, bucket) * x`` with the same
    decimal cast as :func:`score_logreg`, so scores are bit-identical."""
    return (
        feats.select(F.col(id_col), _margin_terms(w_arr).alias("t"))
        .groupBy(id_col)
        .agg(F.sum("t").cast("double").alias("margin"))
        .select(
            F.col(id_col),
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 9
            ).alias("score"),
        )
    )


def score_logreg(
    feats: DataFrame, weights: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, score): sigmoid margins under a trained weight table — the
    same decimal-sum margin as training, rounded to 9."""
    return (
        feats.join(F.broadcast(weights), "bucket")
        .select(id_col, (F.col("w") * F.col("x")).cast(_DEC).alias("t"))
        .groupBy(id_col)
        .agg(F.sum("t").cast("double").alias("margin"))
        .select(
            F.col(id_col),
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 9
            ).alias("score"),
        )
    )
