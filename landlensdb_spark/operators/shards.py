"""Token-budget shard packing: assign docs to contiguous output shards.

The last stage of a training-data pipeline writes the corpus as shards of
~N tokens each (sequence packing / dataset sharding). The rule here is the
deterministic contiguous one: order docs by key, take the running token
total, and put each doc in shard ``floor(exclusive_cumsum / shard_tokens)``
— shard boundaries land between docs wherever a doc straddles the budget,
every shard covers a contiguous key range, and the assignment is a pure
function of (key order, token counts), so any engine reproduces it.

The naive Spark formulation — ``sum() OVER (ORDER BY key)`` with no
partition — collapses the whole corpus into ONE window task. This operator
computes the same global prefix sum distributed, the classic two-phase
scan, with the bucket id a PURE FUNCTION OF THE KEY (quantile ranges
embedded as literals) rather than ``spark_partition_id()`` — so the two
passes need no partition-numbering assumptions:

1. Bucket boundaries: ``percentile_approx`` on the key rides the input's
   eager ``localCheckpoint`` as an observed metric (driver gets
   ~num_buckets doubles, never data rows; no extra job); ``_b`` =
   #boundaries <= key, pure column math over a literal array.
2. Per-bucket TOTALS: map-side-combined groupBy — the shuffle moves one
   row per bucket. Driver prefix-sums the totals (bounded) into offsets.
3. Running sum within each bucket: window partitioned by ``_b`` — the
   ONE data-sized shuffle (hash on the bucket id; buckets are quantile
   ranges, so they are balanced by construction). Each row reads its
   bucket's offset from a literal array: no join.

Total cost: one checkpoint pass + one bounded driver collect + one data
shuffle — the shape that survives 100 TB (the driver only ever sees
quantiles and per-bucket totals).
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def pack_token_shards(
    df: DataFrame,
    tokens: str,
    key: str,
    shard_tokens: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Adds ``shard_id`` = floor(exclusive-prefix-sum(tokens) / shard_tokens)
    over the ``key`` order. ``key`` must be numeric AND UNIQUE (a doc id):
    the running sum is ordered by ``key`` alone, so rows sharing a key
    value would take order-ambiguous prefix sums — shard_id for the tied
    rows could then differ across engines/runs. With unique keys the
    result is deterministic, engine-independent, contiguous.

    Spark work run before this returns: the ``localCheckpoint(eager=True)``
    job that materializes ``df`` and carries the key-quantile observation
    (plus one job per shuffle stage of ``df``'s own plan under AQE), then
    one bounded ``collect`` of the per-bucket token totals.
    """
    n_buckets = int(
        num_partitions
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    quantiles = Observation()
    if qs:  # accuracy 1000 is approxQuantile's 0.001; bounds never change shard_id
        q = F.percentile_approx(F.col(key).cast("double"), qs, 1000)
        df = df.observe(quantiles, q.alias("q"))
    df = df.localCheckpoint(eager=True)
    bounds = sorted(set(quantiles.get["q"] or [])) if qs else []  # NULL on empty input

    def bucket_of(col):
        if not bounds:
            return F.lit(0)
        # number of boundaries <= key: same pure function in both passes
        return F.size(
            F.filter(F.lit(bounds), lambda b: b <= col.cast("double"))
        )

    keyed = df.withColumn("_b", bucket_of(F.col(key)))
    totals = dict(
        keyed.groupBy("_b").agg(F.sum(F.col(tokens).cast("long"))).collect()
    )
    # offs[b] = tokens in buckets < b; a bucket missing from totals is empty
    offs = accumulate((totals.get(b) or 0 for b in range(len(bounds))), initial=0)
    boff = F.element_at(F.lit(list(offs)).cast("array<bigint>"), F.col("_b") + 1)

    w = Window.partitionBy("_b").orderBy(F.col(key).asc())
    return (
        keyed.withColumn("_lcum", F.sum(F.col(tokens).cast("long")).over(w))
        .withColumn(
            "shard_id",
            F.floor(
                (boff + F.col("_lcum") - F.col(tokens).cast("long"))
                / F.lit(shard_tokens)
            ),
        )
        .drop("_b", "_lcum")
    )
