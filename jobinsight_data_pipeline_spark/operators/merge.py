"""Set-based upsert primitives over plain Parquet tables.

The reference implements upserts row-at-a-time or via staged SQL MERGE
(``INSERT ... ON CONFLICT`` — /root/reference/src/db/bulk_operations.py:174-269,
/root/reference/sql/insert_raw_to_staging.sql:37). Without a transactional
table format, the Spark-native equivalent is anti-join + union, rewritten
atomically by the caller (write to temp dir, swap). All operators here are
pure DataFrame→DataFrame; no driver-side iteration.

Scale notes (100 TB posture):
- ``upsert_by_key`` shuffles both sides on the key — on a real deployment
  partition/bucket the base table by the same key so AQE can plan a
  shuffle-free merge; incoming batches are typically small → broadcast.
- surrogate-key assignment uses max()+rank over the *incoming batch
  only* (dims/facts grow by small daily deltas), never a global resort of
  the base table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def null_safe_cond(left: DataFrame, right: DataFrame, keys: list[str]) -> Column:
    """AND-fold of null-safe equality (<=>) over ``keys`` — required for
    composite natural keys with nullable parts (DimLocation: province and
    district are nullable — ref src/etl/dimension_handler.py:290-299)."""
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else (cond & c)
    assert cond is not None
    return cond


def dedupe_last_write(
    df: DataFrame, keys: list[str], order_col: str | None = None
) -> DataFrame:
    """Keep one row per key. The reference processes batches sequentially,
    so a key occurring twice takes the LAST write (SURVEY §7.3); with an
    ``order_col`` we keep the max-order row deterministically, otherwise
    an arbitrary row (dropDuplicates)."""
    if order_col is None:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(
        F.col(order_col).desc_nulls_last(),
        # value-based tie-break so reruns pick the same survivor regardless
        # of partition layout (monotonically_increasing_id is only stable
        # while file splits/parallelism are unchanged)
        F.xxhash64(*[F.col(c) for c in df.columns]).asc(),
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_by_key(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """S5 semantics: ``INSERT ... ON CONFLICT (keys) DO UPDATE`` — incoming
    rows win wholesale; existing rows without a matching key survive.
    Columns are aligned by name (unionByName)."""
    incoming = dedupe_last_write(incoming, keys, order_col)
    if existing is None:
        return incoming
    kept = existing.join(incoming.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(incoming.select(existing.columns))


def insert_if_absent(
    existing: DataFrame | None, incoming: DataFrame, keys: list[str]
) -> DataFrame:
    """S6/J6 semantics: ``ON CONFLICT DO NOTHING`` — only keys not already
    present are appended; existing rows keep their values."""
    incoming = incoming.dropDuplicates(keys)
    if existing is None:
        return incoming
    fresh = incoming.join(existing.select(*keys), on=keys, how="left_anti")
    return existing.unionByName(fresh.select(existing.columns))


_SAMPLE_PER_PART = 257


def _split_points(df: DataFrame, col: str, parts: int) -> list:
    """Split points for range-bucketing ``col``, from ONE sizing job.

    Bottom-k by ``xxhash64(value)`` (TakeOrderedAndProject: a per-partition
    k-heap, then a driver merge — no full sort, no shuffle, scans the
    column-pruned input once) is a uniform random sample of the non-null
    values at any input size, so no separate ``count()`` pass is needed to
    pick a thinning rate — the fixed k IS the thinning. The same job
    doubles as the smallness probe: a sample that comes back short proves
    the input has < k non-null keys, and the caller takes the fused
    single-partition delta plan instead (returns ``[]``).

    Sampled values are sorted on the driver and ≤ P-1 evenly spaced ones
    are frozen as plan literals. Works for any orderable type — strings
    included, which quantile sketches (percentile_approx) don't cover.
    The values only steer partition BALANCE — key values never depend on
    them, so sample quality is correctness-safe."""
    k = _SAMPLE_PER_PART * parts
    sample = (
        df.select(F.col(col).alias("v"))
        .where(F.col("v").isNotNull())
        .orderBy(F.xxhash64("v").asc(), F.col("v").asc())
        .limit(k)
        .collect()
    )
    if len(sample) < k:
        return []
    vals = sorted(r["v"] for r in sample)
    out: list = []
    for i in range(1, parts):
        v = vals[min(len(vals) - 1, int(i * len(vals) / parts))]
        if not out or v != out[-1]:
            out.append(v)
    return out


def running_offset(
    df: DataFrame,
    weight: Column,
    out_col: str,
    order_by: list[str],
    bounds: list | None = None,
) -> DataFrame:
    """Exclusive prefix sum of ``weight`` in the total order of
    ``order_by`` (ascending, NULLs last) as ``out_col`` — for each row,
    the sum of ``weight`` over every earlier row. A unit weight gives the
    0-based global rank; a token count gives the packing offset.

    The plan is chosen from the observed input size, never by the caller:

    **Single-partition plan** — one local sort over a deliberate constant
    partition key. Taken when the sizing probe (``_split_points``, ONE
    column-pruned bottom-k job) comes back short: the input has fewer
    than ``_SAMPLE_PER_PART × defaultParallelism`` non-null leading keys,
    so one sort is the right plan.

    **Bucketed plan** — taken on a full sample; no global sort at any size:

    1. bucket each row by comparing its FIRST order column against ≤ P-1
       split points (collected once and inlined as plan literals) — a
       pure function of the row's key, deterministic across plan
       re-executions, unlike repartitionByRange's sampled
       RangePartitioner or spark_partition_id;
    2. local exclusive sum within each bucket (parallel local sorts —
       the window's partitionBy supplies the hash shuffle);
    3. add the sum of all earlier buckets (a window over ≤ P rows,
       broadcast back).

    ``bounds`` supplies split-point literals directly and skips the probe
    (``[]`` = single-partition plan). Outputs are identical on both plans
    when ``order_by`` is unique per row: they depend only on the total
    order, and the split points only steer balance. Rows tying on the
    first order column land in one bucket, so a near-unique leading
    column keeps buckets even. The output is NOT persisted here —
    offsets are reproducible on re-execution (frozen literals, total
    order), so callers own the caching decision."""
    cols = [F.col(c).asc_nulls_last() for c in order_by]
    earlier = Window.rowsBetween(Window.unboundedPreceding, -1)
    if bounds is None:
        parts = df.sparkSession.sparkContext.defaultParallelism
        bounds = _split_points(df, order_by[0], parts)
    if not bounds:
        single = earlier.partitionBy(F.lit(0)).orderBy(*cols)
        return df.withColumn(out_col, F.coalesce(F.sum(weight).over(single), F.lit(0)))

    first = F.col(order_by[0])
    # bucket = number of split points strictly below the key; NULLs sort
    # last (asc_nulls_last) → the final bucket
    bucket = sum((first > F.lit(b)).cast("int") for b in bounds)
    bucketed = df.withColumn(
        "_pid", F.when(first.isNull(), F.lit(len(bounds))).otherwise(bucket)
    )
    local_w = earlier.partitionBy("_pid").orderBy(*cols)
    local = bucketed.withColumn(
        "_lstart", F.coalesce(F.sum(weight).over(local_w), F.lit(0))
    )
    totals = bucketed.groupBy("_pid").agg(F.sum(weight).alias("_t"))
    prior = earlier.partitionBy(F.lit(0)).orderBy("_pid")
    offsets = totals.withColumn("_off", F.coalesce(F.sum("_t").over(prior), F.lit(0)))
    return (
        local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .withColumn(out_col, F.col("_lstart") + F.col("_off"))
        .drop("_pid", "_lstart", "_off")
    )


def assign_surrogate_keys(
    df: DataFrame,
    sk_col: str,
    existing_max: int,
    order_by: list[str],
) -> DataFrame:
    """SC5: dense surrogate keys without a sequence object —
    ``existing_max + 1 + rank``, where the 0-based rank is
    :func:`running_offset` of a unit weight in ``order_by`` order (which
    also picks the plan).

    Keys are reproducible across reruns/layout changes when ``order_by``
    is unique per row (true for every caller: dims key on the deduped
    natural key, facts on the grain). The reference seeds sequences at
    10000 (sql/schema_dwh.sql:3-6); callers pass ``existing_max=9999``
    for an empty table to match.
    """
    ranked = running_offset(df, F.lit(1), sk_col, order_by)
    return ranked.withColumn(
        sk_col, (F.col(sk_col) + F.lit(existing_max + 1)).cast("long")
    )


SEQUENCE_START = 10_000  # reference sequences start at 10000


def max_key(df: DataFrame | None, sk_col: str, default: int = SEQUENCE_START - 1) -> int:
    """Current max surrogate key (driver-side scalar; an O(1) agg)."""
    if df is None:
        return default
    row = df.agg(F.max(sk_col).alias("m")).collect()[0]
    return int(row["m"]) if row["m"] is not None else default
