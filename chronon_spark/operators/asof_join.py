"""Point-in-time-correct as-of join: the engine's core operator.

Plan shape (the skew-free design, reference:
spark/src/main/scala/ai/chronon/spark/join/UnionJoin.scala:26-240): both sides
shuffle ONCE on the entity keys, then each key's (queries, events) meet inside
a single vectorized kernel — no row explosion on skewed keys, no per-query
probe join. Where the reference unions null-mated structs +
collect_list + mapPartitions, we use the idiomatic PySpark equivalent:
``left.groupby(keys).cogroup(right.groupby(keys)).applyInPandas(...)`` — Arrow
moves each co-group into numpy, and kernels.py runs the sawtooth
(searchsorted + prefix scans, reference SawtoothAggregator.scala:165-243).

Scale notes (100 TB / 1000 executors):
- one shuffle per join part, partitioned by entity key; AQE skew-join and
  `salt_partitions` (time-sliced replication, operators/slicing.py) handle
  hot keys;
- window-rewind scan pruning: callers should filter the right side to
  [left_min_ts - max_window, left_max_ts) — see `rewind_filter`
  (reference: GroupBy.getIntersectedRange, GroupBy.scala:741-788);
- per-key memory is bounded by the tiled strategy (operators/tiles.py) for
  decomposable ops, mirroring the reference's BatchIr{collapsed, tailHops}.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from chronon_spark.aggregators.kernels import (
    _US_D,
    MultiKeyEventColumns,
    composite_frame,
    compute_parts_multikey,
    key_code_chunks,
)
from chronon_spark.api import Accuracy, GroupBy, Join, JoinPart
from chronon_spark.types import part_output_type

_TS_US = "__ts_us"


def apply_derivations(out: DataFrame, derivations: dict[str, str] | None) -> DataFrame:
    """Post-aggregation projection (reference GroupBy/Join derivations,
    Extensions.scala:1261-1296): '*' passes every existing column through,
    named entries are Spark SQL expressions over key + feature columns.
    Shared by every physical strategy (plain / tiled / sliced / skew-split)
    so derived schemas agree across paths."""
    if not derivations:
        return out
    exprs = [F.col(c) for c in out.columns] if "*" in derivations else []
    exprs += [F.expr(e).alias(n) for n, e in derivations.items() if n != "*"]
    return out.select(*exprs)


def ensure_ts_us(df: DataFrame, col: str, out: str = _TS_US) -> DataFrame:
    """Add int64 epoch-micros column derived from a timestamp/long column."""
    t = dict(df.dtypes)[col]
    if t.startswith("timestamp"):
        # parquet yields TIMESTAMP_NTZ; session tz is pinned UTC so the cast
        # is lossless and matches DuckDB's naive-as-UTC reading
        return df.withColumn(out, F.unix_micros(F.col(col).cast("timestamp")))
    if t in ("bigint", "int"):
        # assume epoch millis (the reference's convention, GroupBy.scala:630)
        return df.withColumn(out, F.col(col).cast("long") * F.lit(1000))
    raise ValueError(f"time column {col} has unsupported type {t}")


def rewind_filter(right: DataFrame, gb: GroupBy, left_min_ts_us: int, left_max_ts_us: int) -> DataFrame:
    """Prune the event scan to [min_query - max_window, max_query): at 100 TB
    this is the single biggest saving (scan only what any window can reach)."""
    r = ensure_ts_us(right, gb.time_column)
    mw = gb.max_window_millis
    if mw is not None:
        r = r.where(F.col(_TS_US) >= F.lit(left_min_ts_us - mw * 1000))
    side = "<=" if gb.include_equal else "<"
    r = r.where(F.expr(f"{_TS_US} {side} {left_max_ts_us}"))
    return r.drop(_TS_US)


# Reference small-mode cutoff: <=5000 distinct left keys hardcode an IN list
# into the right side's WHERE (JoinUtils.injectKeyFilter, JoinUtils.scala:234-285,
# cutoff catalog/TableUtils.scala:54-57). Above it, the reference builds a bloom
# filter (Join.scala:268-285); our Spark-first equivalent is a broadcast
# left-semi join (exact, and AQE can still convert it at runtime).
SMALL_MODE_KEY_LIMIT = 5000


def prefilter_right_keys(
    left: DataFrame,
    right: DataFrame,
    key_mapping: dict[str, str],
    mode: str = "auto",
    small_limit: int = SMALL_MODE_KEY_LIMIT,
) -> DataFrame:
    """Push the left side's key set into the right-side scan.

    Semantics-neutral for the as-of join (right events whose keys never appear
    on the left can't contribute to any output row), but at 100 TB it turns a
    full event-stream scan into a keyed slice:

    - ``'in'`` — literal ``key IN (...)`` predicate, one per key column.
      Catalyst pushes it into the parquet/Iceberg scan (``PushedFilters: In``)
      so row groups whose stats exclude the keys are never read.
    - ``'semi'`` — ``right LEFT SEMI JOIN broadcast(distinct left keys)``:
      no scan pushdown, but events are dropped before the cogroup shuffle.
    - ``'bloom'`` — the reference's large-left mode (Join.scala:268-285):
      a distributed bloom bitmap over the left key tuples, probed by an
      Arrow-vectorized `mightContain` on the right scan. False positives
      only pass extra events (dropped by the cogroup), so exactness is
      preserved. Use past the broadcast budget (~10^7 distinct tuples).
    - ``'auto'`` — collect up to ``small_limit`` distinct keys; IN-list if the
      left is small, else semi-join.
    """
    if mode not in ("in", "semi", "bloom", "auto"):
        raise ValueError(
            f"unknown prefilter mode {mode!r}; expected one of 'in', 'semi', "
            "'bloom', 'auto' (check spark.chronon.backfill.prefilter)"
        )
    left_keys = list(key_mapping.keys())
    right_keys = [key_mapping[k] for k in left_keys]
    if mode == "bloom":
        from chronon_spark.operators.bloom import bloom_filter_keys

        return bloom_filter_keys(left, right, key_mapping)
    if mode in ("auto", "in"):
        rows = left.select(*left_keys).distinct().limit(small_limit + 1).collect()
        if len(rows) <= small_limit:
            for lk, rk in key_mapping.items():
                vals = sorted({r[lk] for r in rows if r[lk] is not None})
                right = right.where(F.col(rk).isin(vals))
            return right
        if mode == "in":
            raise ValueError(f"left has >{small_limit} distinct keys; use mode='semi'")
    keys_df = left.select(*[F.col(lk).alias(rk) for lk, rk in key_mapping.items()]).distinct()
    return right.join(F.broadcast(keys_df), on=right_keys, how="left_semi")


def auto_buckets(spark) -> int:
    """The ``"auto"`` coarse bucket count: 4× the session's shuffle
    partitions, at least 64."""
    try:
        sp = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    except ValueError:  # conf can be the string "auto" under AQE-managed envs
        sp = spark.sparkContext.defaultParallelism or 64
    return max(sp * 4, 64)


def factorize_keys(
    lpdf: pd.DataFrame, rpdf: pd.DataFrame, left_keys: list[str], right_keys: list[str]
) -> tuple[np.ndarray, np.ndarray]:
    """Joint integer codes of the left and right key tuples of one batch —
    equal tuples share a code. A null single-column key gets −1; a partly
    null tuple gets a code no event shares (events with null keys are
    dropped before the cogroup). Either way its features are NULL."""
    if len(left_keys) == 1:
        joint = pd.concat([lpdf[left_keys[0]], rpdf[right_keys[0]]], ignore_index=True)
        codes = pd.factorize(joint, use_na_sentinel=True)[0]
    else:
        arrays = [
            pd.concat([lpdf[lk], rpdf[rk]], ignore_index=True)
            for lk, rk in zip(left_keys, right_keys)
        ]
        codes = pd.MultiIndex.from_arrays(arrays).factorize()[0]
    return codes[: len(lpdf)], codes[len(lpdf) :]


def ts_us_array(pdf: pd.DataFrame) -> np.ndarray:
    """The ``__ts_us`` column of one cogroup side as int64 (empty-safe)."""
    return pdf[_TS_US].to_numpy(np.int64) if len(pdf) else np.empty(0, np.int64)


def cogroup_asof(
    l: DataFrame,
    r: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    coarse_buckets: int | str | None,
    out_schema: T.StructType,
    kernel,
) -> DataFrame:
    """Co-group the left side ``l`` with the ``__r_``-aliased right side
    ``r`` and run ``kernel(lpdf, rpdf, lcodes, rcodes, base, block)`` on each
    Arrow batch, in the composite index of kernels.composite_frame.

    ``coarse_buckets=N`` groups on ``hash(keys) % N`` (many keys per batch;
    ``"auto"`` sizes N with ``auto_buckets``); ``None`` groups on the raw
    keys (one key per batch, so a co-bucketed scan needs no exchange). Either
    way the keys are factorized inside the batch, and a batch whose
    composite index would pass 2**62 runs the same kernel once per key-code
    chunk."""
    empty_cols = [f.name for f in out_schema.fields]

    def fn(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf):
            return pd.DataFrame(columns=empty_cols)
        rpdf = rpdf.rename(columns=lambda c: c[4:] if c.startswith("__r_") else c)
        lcodes, rcodes = factorize_keys(lpdf, rpdf, left_keys, right_keys)
        base, block = composite_frame(ts_us_array(lpdf), ts_us_array(rpdf))
        pieces = [
            kernel(lpdf.iloc[qi], rpdf.iloc[ri], lc, rc, base, block)
            for qi, ri, lc, rc in key_code_chunks(lcodes, rcodes, block)
        ]
        return pieces[0] if len(pieces) == 1 else pd.concat(pieces)

    if coarse_buckets == "auto":
        coarse_buckets = auto_buckets(l.sparkSession)
    if coarse_buckets:
        lb = l.withColumn("__b", F.pmod(F.xxhash64(*left_keys), F.lit(coarse_buckets)))
        rb = r.withColumn("__r___b", F.pmod(F.xxhash64(*[f"__r_{c}" for c in right_keys]), F.lit(coarse_buckets)))
        grouped = lb.groupby(F.col("__b")).cogroup(rb.groupby(F.col("__r___b")))
    else:
        grouped = l.groupby(*[F.col(c) for c in left_keys]).cogroup(
            r.groupby(*[F.col(f"__r_{c}") for c in right_keys])
        )
    return grouped.applyInPandas(fn, schema=out_schema)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    gb: GroupBy,
    left_time_column: str = "ts",
    key_mapping: dict[str, str] | None = None,
    prefix: str | None = None,
    coarse_buckets: int | str | None = "auto",
    prefilter: str | None = None,
) -> DataFrame:
    """For every left row, aggregate right-side events with ts strictly before
    the left row's ts (per window). Output = left columns + one column per
    AggregationPart. Exactly one output row per left row (the reference's
    cardinality invariant, UnionJoinTest.scala:79-81).

    ``coarse_buckets=N`` cogroups on ``hash(keys) % N`` instead of the raw
    keys, and inside each Arrow batch the whole-bucket vectorized kernel
    (compute_parts_multikey) resolves every key's windows in one pass —
    measured 2× end-to-end over per-key cogroup even where the per-key
    grouping could reuse an upstream exchange. ``"auto"`` (default) sizes N
    with ``auto_buckets``; ``None`` cogroups on the raw keys, one key per
    batch through the same kernel (what lets co-bucketed tables join with
    zero exchanges, sources/bucketed.py).
    """
    key_mapping = key_mapping or {k: k for k in gb.keys}
    left_keys = list(key_mapping.keys())
    right_keys = [key_mapping[k] for k in left_keys]
    if set(right_keys) != set(gb.keys):
        raise ValueError(f"key_mapping values {right_keys} != group-by keys {gb.keys}")
    # Decimal inputs: JVM-side rewrite to unscaled-int64 / double variants
    # before the Arrow boundary (reference ColumnAggregator.scala:279-423
    # Decimal dispatch), then rescale the outputs back — see aggregators/decimal.py
    from chronon_spark.aggregators.decimal import rewrite_decimal_inputs

    right_dec, gb_dec, dec_post = rewrite_decimal_inputs(right, gb)
    if dec_post is not None:
        out = asof_join(
            left, right_dec, gb_dec, left_time_column=left_time_column,
            key_mapping=key_mapping, prefix=prefix,
            coarse_buckets=coarse_buckets, prefilter=prefilter,
        )
        return apply_derivations(dec_post(out, prefix), gb.derivations)
    if prefilter:
        right = prefilter_right_keys(left, right, key_mapping, mode=prefilter)

    parts = gb.parts()
    right_types = {f.name: f.dataType for f in right.schema.fields}
    feat_fields = []
    for p in parts:
        name = f"{prefix}_{p.output_name}" if prefix else p.output_name
        feat_fields.append(T.StructField(name, part_output_type(p, right_types[p.input_column]), True))
    out_schema = T.StructType(list(left.schema.fields) + feat_fields)

    # project the right side to only what the kernels need (column pruning
    # reaches the parquet scan via Catalyst)
    needed = sorted({p.input_column for p in parts} | {p.bucket for p in parts if p.bucket} | set(right_keys) | set(gb.tie_breakers))
    r = ensure_ts_us(right.select(*needed, gb.time_column), gb.time_column)
    # drop events with null keys (reference: GroupBy.scala:641-642)
    for k in right_keys:
        r = r.where(F.col(k).isNotNull())
    # Alias every right column to a fresh name: left and right often share
    # lineage (self-as-of), and cogroup grouping exprs would otherwise resolve
    # against the SAME attribute ids, letting Catalyst prune right-side
    # columns the kernel needs. Fresh aliases => fresh exprIds => no collision.
    r = r.select(*[F.col(c).alias(f"__r_{c}") for c in r.columns])
    l = ensure_ts_us(left, left_time_column)

    left_cols = [f.name for f in left.schema.fields]
    tie = list(gb.tie_breakers)
    include_equal, sawtooth = gb.include_equal, gb.sawtooth
    feat_names = [f.name for f in feat_fields]
    part_list = list(parts)

    def kernel(lpdf, rpdf, lcodes, rcodes, base, block) -> pd.DataFrame:
        mec = MultiKeyEventColumns(rpdf, rcodes, ts_us_array(rpdf), tie, base, block)
        feats = compute_parts_multikey(mec, part_list, lcodes, ts_us_array(lpdf), include_equal, sawtooth)
        out = lpdf[left_cols].copy()
        for p, fname in zip(part_list, feat_names):
            out[fname] = feats[p.output_name]
        return out

    out = cogroup_asof(l, r, left_keys, right_keys, coarse_buckets, out_schema, kernel)
    return apply_derivations(out, gb.derivations)


def compute_join(left: DataFrame, join: Join, prefilter: str | None = None) -> DataFrame:
    """Multi-part PITC join + derivations (reference: JoinBase.computeJoinOpt,
    spark/.../JoinBase.scala:255-404). Parts are chained — each part is one
    key-shuffle that passes accumulated columns through, avoiding a row-id
    merge stage (the reference merges part tables back with coalescedJoin)."""
    out = left
    if join.skew_keys:
        for col, vals in join.skew_keys.items():
            out = out.where(~F.col(col).isin(vals) | F.col(col).isNull())
    for jp in join.join_parts:
        right = jp.right_df
        # SNAPSHOT-accuracy part: features as of the most recent midnight
        # before the left row (reference decision table EVENTS x EVENTS x
        # SNAPSHOT -> -1d shift + ts_ds join, batch/JoinPartJob.scala:217-247,
        # day-shift JoinUtils.scala:401-423) — expressed as an as-of at the
        # day-truncated query timestamp.
        tc = join.left_time_column
        if jp.group_by.accuracy == Accuracy.SNAPSHOT:
            # derive the midnight from normalized micros, NOT from a cast of
            # the raw column: a bigint left ts is epoch MILLIS (the reference
            # convention, GroupBy.scala:630) and cast-to-timestamp would read
            # it as seconds, silently shifting the snapshot into the future
            snap = "__snapshot_ts"
            out = ensure_ts_us(out, tc, out="__snap_us")
            out = out.withColumn(
                snap, F.timestamp_micros(F.expr(f"(__snap_us div {_US_D}) * {_US_D}"))
            ).drop("__snap_us")
            tc = snap
        strategy = getattr(jp, "strategy", "plain") or "plain"
        if strategy == "tiled":
            from chronon_spark.operators.tiles import tiled_sawtooth_asof_join

            out = tiled_sawtooth_asof_join(
                out, right, jp.group_by, left_time_column=tc,
                key_mapping=jp.key_mapping, prefix=jp.prefix, prefilter=prefilter,
            )
        elif strategy == "sliced":
            from chronon_spark.operators.slicing import sliced_asof_join

            out = sliced_asof_join(
                out, right, jp.group_by, left_time_column=tc,
                key_mapping=jp.key_mapping, prefix=jp.prefix, prefilter=prefilter,
            )
        elif strategy == "skew":
            from chronon_spark.operators.slicing import skew_split_asof_join

            out = skew_split_asof_join(
                out, right, jp.group_by, left_time_column=tc,
                key_mapping=jp.key_mapping, prefix=jp.prefix, prefilter=prefilter,
            )
        elif strategy == "plain":
            out = asof_join(
                out,
                right,
                jp.group_by,
                left_time_column=tc,
                key_mapping=jp.key_mapping,
                prefix=jp.prefix,
                prefilter=prefilter,
            )
        else:
            raise ValueError(f"unknown part strategy {strategy!r} (plain/tiled/sliced/skew)")
        if tc == "__snapshot_ts":
            out = out.drop(tc)
    out = apply_derivations(out, join.derivations)
    return out
