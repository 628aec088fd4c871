"""Two shapes shared by many operators: the distributed global running
total (``positions``) and the additive merge of mergeable states
(``sum_by``).

``positions`` gives every row a GLOBAL order-dependent quantity — a
dense rank, a running offset, a stream position — without a global
sort:

1. range-partition the frame on (group, order) keys — partitions then
   compose in global order, and ``spark_partition_id()`` (``_pid``) is
   the partition's position in that order;
2. take the running total LOCALLY within each partition (one window
   partitioned by ``_pid`` and the group — parallel, partition-sized
   state);
3. aggregate ONE row per partition (per group), prefix-sum those few
   rows, and broadcast-join the result back as the base:
   global = base + local.

The only non-parallel stage left is the prefix over #partitions
(x #groups) rows. Its invariants:

- the input AND the ranged frame are persisted (``cache.track``):
  ``repartitionByRange`` samples its child in a separate pass to fit
  the boundaries, so an unpersisted input evaluates twice, and
  evaluating the ranged frame twice risks inconsistent ``_pid``
  assignments between the local and base sides. Callers pass a slim
  projection (keys + weight) so the persists stay narrow; looping
  callers release them with ``cache.scope()`` / ``cache.release_all()``;
- the ungrouped prefix window needs a NON-FOLDABLE constant partition
  key (``substring(_pid, 1, 0)``) — a literal would be folded away by
  the optimizer and Spark rejects a parallel window with no partition
  spec;
- group keys join back null-safe, so a NULL group is one group, the
  way SQL's ``PARTITION BY`` treats it.

``sum_by`` is the merge of the additive day-2 states (vocab counts,
length and latency histograms, daily health): union the states, group
by the keys, sum every other column. Replays are NOT idempotent by
construction — the caller's ingest dedup owns exactly-once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ml4logs_spark import cache


def positions(
    df: DataFrame,
    order_cols: Sequence[str],
    weight: str | None = None,
    group_cols: Sequence[str] = (),
    n_parts: int | None = None,
) -> DataFrame:
    """``df`` plus ``_pos``, the running total of the non-NULL numeric
    column ``weight`` (default 1) over rows in (group_cols, order_cols)
    order up to and including the row, restarting per group, and
    ``_total``, the group's total. With the default weight ``_pos`` is
    the 1-based rank; an exclusive offset is ``_pos - weight``.
    ``order_cols`` must order rows totally within a group for the
    result to be deterministic."""
    group_cols = list(group_cols)
    parts = n_parts or df.sparkSession.sparkContext.defaultParallelism
    w = (F.lit(1) if weight is None else F.col(weight)).cast("long")
    ranged = cache.track(
        cache.track(df)
        .repartitionByRange(parts, *group_cols, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    local = ranged.withColumn(
        "_pos",
        F.sum(w).over(
            Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    prefix = Window.partitionBy(
        *group_cols or [F.substring(F.col("_pid").cast("string"), 1, 0)]
    ).orderBy("_pid")
    keys = ["_pid", *group_cols]
    bases = (
        ranged.groupBy(*keys).agg(F.sum(w).alias("_n"))
        .select(
            *[F.col(c).alias(f"_b{i}") for i, c in enumerate(keys)],
            (
                F.sum("_n").over(prefix.rowsBetween(
                    Window.unboundedPreceding, Window.currentRow))
                - F.col("_n")
            ).alias("_base"),
            F.sum("_n").over(prefix.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )).alias("_total"),
        )
    )
    on = [F.col(c).eqNullSafe(F.col(f"_b{i}")) for i, c in enumerate(keys)]
    return local.join(F.broadcast(bases), on).select(
        *df.columns,
        (F.col("_base") + F.col("_pos")).alias("_pos"),
        "_total",
    )


def sum_by(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """(keys..., every other column summed as long) — the additive
    merge of a union of mergeable states."""
    return df.groupBy(*keys).agg(*[
        F.sum(c).cast("long").alias(c) for c in df.columns if c not in keys
    ])
