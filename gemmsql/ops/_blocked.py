"""Blocked (tiled) execution of pairwise score operators.

The reference's ``chunker`` enumerates the cross product of row tiles
(reference attention.py:46-57: 256-row query tiles x 256-row key tiles;
runtime-tunable in C++, gemm_map_reduce_attention.cpp:82-83).  The Spark
equivalent is a join of block tables on block ids: each (left-block,
right-block) pair becomes one ``applyInPandas`` group whose NumPy kernel
plays ``proj_fold``; the per-pair partial accumulators are then merged
per output row by an associative SQL aggregate (``binary_reduce``).

Shuffle accounting (the thing that matters at 100 TB): left rows are
replicated once per right block and vice versa — the textbook blocked
matmul communication bound O(|L| * nrb + |R| * nlb).  Choosing block
sizes ~sqrt(memory) minimizes it; when the right side fits in executor
memory, :func:`broadcast_right_partials` degenerates to replication
factor 1 (a narrow map, no shuffle at all).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# kernel(left_ids, left_mat, left_extra, right_ids, right_mat) -> pdf
Kernel = Callable[[np.ndarray, np.ndarray, pd.DataFrame, np.ndarray, np.ndarray], pd.DataFrame]

#: target rows per task for the broadcast-kernel spread — small enough
#: that a 2000-row table still fans ~8 ways, large enough that each
#: Arrow batch amortizes the Python worker round
SPREAD_ROWS_PER_TASK = 256


def _partitions(df: DataFrame) -> int:
    """A lower bound on ``df``'s partition count, found without running a
    job (0 if unknown).  A projection over parquet files splits them
    into at least ``bytes / spark.sql.files.maxPartitionBytes``
    partitions.  Above an exchange only a user ``repartition(n)``
    (shuffle origin REPARTITION_BY_NUM) keeps its planned width: AQE
    coalesces a join or aggregate shuffle at run time, a KB-scale one
    to about one partition, so those count as unknown.  Asking the RDD
    instead would run the stages below the exchange."""
    from gemmsql.stats import frame_bytes

    size = frame_bytes(df)
    if size is not None:
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        return -(-size // conf.filesMaxPartitionBytes())
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() != "AdaptiveSparkPlanExec":
        return 0
    root = node = plan.inputPlan()
    while node.getClass().getSimpleName() != "ShuffleExchangeExec":
        if node.children().size() != 1:
            return 0
        node = node.children().head()
    if node.shuffleOrigin().toString() != "REPARTITION_BY_NUM":
        return 0
    return root.outputPartitioning().numPartitions()


def spread(df: DataFrame) -> DataFrame:
    """Byte-light/compute-heavy spread before a broadcast-path kernel
    (guide §2; the media_split r17 precedent).  The broadcast kernels
    run on tables whose KB-scale parquet scan is ONE input partition,
    so without a fan-out the NumPy kernel serializes on one core
    (measured r18: the whole ML tier showed 8-core ≈ 32-core scaling
    for exactly this reason).  One round-robin exchange of the narrow
    rows fans the kernel across the cluster.  Every kernel fed by this
    is batch-slicing-independent (per-row outputs or per-task monoid
    partials merged by sum), so the spread cannot move a result.

    Task sizing: ~SPREAD_ROWS_PER_TASK rows per task (footer row
    count, never a job), capped at defaultParallelism — a fixed
    32-way fan measured as pure scheduling overhead for the cheap
    softmax kernels while still leaving the heavy ones (gumbel noise,
    fused grads) under-parallelized at small N on few-core boxes.

    An input that already has at least that many partitions (a
    many-file scan, an upstream ``repartition(n)``) is returned
    unchanged: the exchange would only move the whole payload to end up
    no wider.  A join or aggregate output is still spread, since AQE
    may coalesce its shuffle to one partition (:func:`_partitions`)."""
    from gemmsql.stats import frame_rows

    n = frame_rows(df)
    cap = df.sparkSession.sparkContext.defaultParallelism
    parts = cap if n is None else max(
        2, min(cap, -(-n // SPREAD_ROWS_PER_TASK))
    )
    if _partitions(df) >= parts:
        return df
    return df.repartition(parts)


def _to_mat(series) -> np.ndarray:
    return np.asarray(series.tolist(), dtype=np.float64)


def blocked_partials(
    left: DataFrame,
    right: DataFrame,
    kernel: Kernel,
    partial_schema: str,
    *,
    left_block: int = 4096,
    right_block: int = 4096,
    left_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Run ``kernel`` on every (left-block, right-block) tile pair.

    ``left``/``right`` are vector-row DataFrames ``(i, vec[, extras])``.
    Returns the union of per-pair partial accumulator rows (one or more
    rows per left row id per right block), ready for a monoid merge.
    """
    lb = left.withColumn("_lb", F.floor(F.col("i") / left_block).cast("int"))
    rb = right.withColumn("_rb", F.floor(F.col("i") / right_block).cast("int"))

    lids = lb.select("_lb").distinct()
    rids = rb.select("_rb").distinct()

    extra = list(left_extra)
    l_rep = lb.crossJoin(F.broadcast(rids)).select(
        "_lb", "_rb", F.lit(0).alias("_side"), "i", "vec",
        *[F.col(c) for c in extra],
    )
    r_rep = rb.crossJoin(F.broadcast(lids)).select(
        "_lb", "_rb", F.lit(1).alias("_side"), "i", "vec",
        *[F.lit(None).cast(lb.schema[c].dataType).alias(c) for c in extra],
    )
    both = l_rep.unionByName(r_rep)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        lp = pdf[pdf["_side"] == 0]
        rp = pdf[pdf["_side"] == 1]
        if len(lp) == 0 or len(rp) == 0:
            # empty tile: monoid identity contribution -> no rows
            return pd.DataFrame(columns=[f.split()[0] for f in partial_schema.split(",")])
        return kernel(
            lp["i"].to_numpy(),
            _to_mat(lp["vec"]),
            lp[extra].reset_index(drop=True),
            rp["i"].to_numpy(),
            _to_mat(rp["vec"]),
        )

    return both.groupBy("_lb", "_rb").applyInPandas(
        lambda _key, pdf: run(pdf), partial_schema
    )


def broadcast_right_partials(
    left: DataFrame,
    right: DataFrame | None,
    kernel: Kernel,
    partial_schema: str,
    *,
    left_extra: tuple[str, ...] = (),
    spread_left: bool = True,
) -> DataFrame:
    """Same contract as :func:`blocked_partials` but with the whole right
    side broadcast — one tile per left batch, replication factor 1, no
    shuffle (use when the right side fits in memory; e.g. a
    class-embedding table).  ``right=None`` is a row fold: the kernel
    gets ``None`` for the right ids and matrix.  ``spread_left`` fans
    the left rows out first (:func:`spread`); callers whose left side is
    already spread, or whose kernel is too cheap to pay for an
    exchange, turn it off."""
    spark = left.sparkSession
    b = None
    if right is not None:
        rp = right.select("i", "vec").toPandas()
        b = spark.sparkContext.broadcast((rp["i"].to_numpy(), _to_mat(rp["vec"])))
    extra = list(left_extra)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rids, rmat = (None, None) if b is None else b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield kernel(
                pdf["i"].to_numpy(), _to_mat(pdf["vec"]),
                pdf[extra].reset_index(drop=True), rids, rmat,
            )

    src = left.select("i", "vec", *extra)
    return (spread(src) if spread_left else src).mapInPandas(
        run, partial_schema
    )
