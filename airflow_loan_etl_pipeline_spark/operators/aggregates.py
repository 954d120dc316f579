"""Multi-key aggregation with global fallback (SURVEY.md A3-A6) plus
rollup/cube/pivot breadth.

Reference: groupBy over whichever of the preferred grouping columns
exist, count + sum, global aggregate when none do
(/root/reference/airflow/include/loan_spark_etl.py:91-131). All of this
plans to partial+final ``HashAggregateExec`` — map-side combine before
the shuffle — which is exactly the shape that scales.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _metrics(amount_col: str) -> list[Column]:
    return [
        F.count(F.lit(1)).alias("loan_count"),
        F.sum(F.col(amount_col)).alias("total_amount"),
    ]


def grouped_metrics(
    df: DataFrame,
    group_cols: list[str],
    amount_col: str = "amount",
) -> DataFrame:
    """A3 + A4: count/sum by the grouping columns that actually exist;
    global single-row summary when none do (loan_spark_etl.py:110-120).
    Deterministic output order by the group columns (T2)."""
    present = [c for c in group_cols if c in df.columns]
    amount = (
        F.col(amount_col).cast("double")
        if amount_col in df.columns
        else F.lit(None).cast("double")
    )
    df = df.withColumn("_amount_num", amount)
    if not present:
        return df.agg(*_metrics("_amount_num"))
    return df.groupBy(*present).agg(*_metrics("_amount_num")).orderBy(*present)


def rollup_metrics(df: DataFrame, group_cols: list[str], amount_col: str) -> DataFrame:
    """Hierarchical subtotals over the grouping keys (§7 phase 2)."""
    return df.rollup(*group_cols).agg(*_metrics(amount_col))


def cube_metrics(df: DataFrame, group_cols: list[str], amount_col: str) -> DataFrame:
    """All grouping-set combinations (§7 phase 2)."""
    return df.cube(*group_cols).agg(*_metrics(amount_col))


def heavy_hitters(df: DataFrame, key_col: str, k: int = 30) -> DataFrame:
    """Exact frequent-item detection (keys with count > n/k) via the
    two-phase candidate-then-verify pattern: per-partition Misra-Gries
    sketches nominate candidates, an exact recount restricted to those
    candidates verifies them.

    Why not one groupBy? A global ``groupBy(key).count()`` shuffles
    EVERY distinct key; at 100 TB with a long-tailed key domain the
    shuffle is dominated by tail keys that can never be heavy. Phase 1
    reduces each partition to ≤ k candidate keys with zero shuffle
    (Misra-Gries guarantee: undercount ≤ n_p/(k+1), so any key with
    global count > n/k survives in at least one partition — the
    standard averaging argument makes the candidate union a SUPERSET of
    the true heavy hitters). Phase 2 recounts exactly, but only rows
    matching the broadcast candidate set survive the scan, so the
    verify shuffle carries heavy keys only. Output is therefore EXACT
    and partitioning-independent even though the sketch is not.
    """
    import pandas as pd

    # NULL keys are excluded up front (and from n): pandas value_counts
    # drops NaN, so a null-heavy key could never be nominated — it must
    # not count toward the threshold base either.
    df = df.filter(F.col(key_col).isNotNull())
    key_type = dict(df.dtypes)[key_col]

    # Empty partitions (or an all-null column) leave the counter empty,
    # and an empty Series' RangeIndex is int64 — Arrow then rejects the
    # batch for any non-int key column. Emit the empty frame with the
    # key's real pandas dtype instead.
    _EMPTY_DTYPE = {
        "tinyint": "int8", "smallint": "int16", "int": "int32",
        "bigint": "int64", "float": "float32", "double": "float64",
        "boolean": "bool",
    }.get(key_type, "object")

    def mg(batches):
        counters: pd.Series = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf[key_col].value_counts()
            counters = counters.add(vc, fill_value=0)
            if len(counters) > k:
                # Merge-prune (Agarwal et al.): subtract the (k+1)-th
                # largest weight from all, keep strictly positive —
                # preserves the n_p/(k+1) undercount bound.
                cut = counters.nlargest(k + 1).iloc[-1]
                counters = counters - cut
                counters = counters[counters > 0]
        if len(counters):
            yield pd.DataFrame({key_col: counters.index})
        else:
            yield pd.DataFrame(
                {key_col: pd.Series([], dtype=_EMPTY_DTYPE)}
            )

    cand = (
        df.select(key_col)
        .mapInPandas(mg, schema=f"{key_col} {key_type}")
        .distinct()
    )
    total = df.agg(F.count(F.lit(1)).alias("n_total"))
    counts = (
        df.join(F.broadcast(cand), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > F.col("n_total") / k)
        .select(
            key_col,
            "cnt",
            F.round(F.col("cnt") / F.col("n_total"), 4).alias("frac"),
        )
    )


def merge_aggregates(
    old_agg: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
    sum_cols: tuple[str, ...] = (),
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Incremental aggregate-table maintenance: combine an existing
    aggregate table with the aggregate of a NEW batch, producing exactly
    what re-aggregating (history + batch) from scratch would.

    The reference recomputes its aggregate output over the full input on
    every run (loan_spark_etl.py:178-184) — fine at MB scale, a full
    100 TB re-scan at corpus scale. Counts/sums/mins/maxs are
    decomposable aggregates (Gray et al., "Data Cube"): the merged table
    is ``unionByName`` + one re-aggregate over rows proportional to
    |keyspace|, not |history|. Averages derive as sum/count at read
    time; non-decomposable metrics (exact distinct, percentile) need
    sketches (HLL / KLL) merged the same way — see
    ``event_type_stats_approx``.

    Scale shape: the union's two inputs are aggregate-sized. One
    map-side-combinable shuffle on the keys; the history FACTS are never
    read.
    """
    merged = old_agg.unionByName(delta_agg)
    aggs = (
        [F.sum(c).alias(c) for c in sum_cols]
        + [F.min(c).alias(c) for c in min_cols]
        + [F.max(c).alias(c) for c in max_cols]
    )
    return merged.groupBy(*keys).agg(*aggs)


def mergeable_partials(
    df: DataFrame, group_cols: list[str], amount_col: str
) -> tuple[pa.Table, pa.Table]:
    """What mode imputation + :func:`grouped_metrics` need to know about
    ``df``, in a form that adds across disjoint inputs, from ONE scan
    (a grouping-sets aggregate) collected to the driver as Arrow:

    - ``groups``: per RAW, nullable ``group_cols`` key (as strings):
      ``n`` rows, ``amount_sum`` over the present amounts (null when
      none) and ``amount_missing``, the amounts that are null or NaN —
      what ``fillna`` replaces in a double column;
    - ``values``: ``(column, value, n)`` for every non-null value of
      ``group_cols + [amount_col]``, cast to string as
      ``cleaning.melt_counts`` casts it, so modes picked from the
      merged counts are the ones ``column_modes`` would pick.

    The result is bounded by key combinations plus distinct values,
    not by rows; streaming/loan_state.py merges and finalizes it.
    """
    value_col = "_value_of_" + amount_col
    flat = df.select(
        *[F.col(c).cast("string").alias(c) for c in group_cols],
        F.col(amount_col).cast("string").alias(value_col),
        F.col(amount_col).cast("double").alias("_amount"),
    )
    missing = F.col("_amount").isNull() | F.isnan("_amount")
    keys = [*group_cols, value_col]
    out = (
        flat.groupingSets([group_cols, *([k] for k in keys)], *keys)
        .agg(
            F.grouping_id().alias("_gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(~missing, F.col("_amount"))).alias("amount_sum"),
            F.count_if(missing).alias("amount_missing"),
        )
        .toArrow()
    )

    def rows_of(members: list[str]) -> pa.Table:
        # grouping_id sets bit (len-1-i) for each key NOT grouped on
        gid = sum(1 << (len(keys) - 1 - i) for i, k in enumerate(keys)
                  if k not in members)
        return out.filter(pc.equal(out["_gid"], gid))

    groups = rows_of(group_cols).select(
        [*group_cols, "n", "amount_sum", "amount_missing"]
    )
    values = []
    for key, column in zip(keys, [*group_cols, amount_col]):
        part = rows_of([key])
        part = part.filter(pc.is_valid(part.column(key)))
        values.append(pa.table({
            "column": pa.array([column] * part.num_rows, pa.string()),
            "value": part.column(key),
            "n": part.column("n"),
        }))
    return groups, pa.concat_tables(values)
