"""Forward-window label-attribution join.

Labeling flows are the stated use case of the reference's ``recomputeDays``
(thrift/api.thrift:104-109) and survive as the ``label-join`` run mode in its
python tooling (python/src/ai/chronon/repo/constants.py:26); the fork carries
no batch implementation. Re-expressed here as the exact *time mirror* of the
PITC as-of join: for every left row, aggregate label events with

    ts' in (ts, ts + window]

— strictly AFTER the decision time (the no-leakage mirror of the as-of
``ts' < ts`` contract) and inclusive at the horizon.

Implementation: negate epoch-micros on both sides (and the numeric
tie-breakers, so stable ordering mirrors too) and run the standard as-of
kernel. Order-sensitive ops are swapped (FIRST↔LAST, FIRST_K↔LAST_K) so they
keep their natural forward-time meaning, and outputs are renamed back to the
caller's part names. Under negation, LAST_K's most-recent-first gather emits
earliest-first in real time — exactly FIRST_K's element-order contract — and
the negated tie-breakers keep within-timestamp order stable.

Scale shape is inherited unchanged from ``asof_join`` (single cogroup
shuffle, whole-bucket Arrow kernels, coarse buckets, prefilter pushdown);
negation is a map-side projection.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, functions as F

from chronon_spark.api import GroupBy, Op
from chronon_spark.operators.asof_join import asof_join, ensure_ts_us

_NEG_TS = "__lj_neg_ts"
_MIRROR = {Op.FIRST: Op.LAST, Op.LAST: Op.FIRST, Op.FIRST_K: Op.LAST_K, Op.LAST_K: Op.FIRST_K}
_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")


def label_join(
    left: DataFrame,
    labels: DataFrame,
    gb: GroupBy,
    left_time_column: str = "ts",
    key_mapping: dict[str, str] | None = None,
    prefix: str | None = None,
    prefilter: str | None = None,
) -> DataFrame:
    """One output row per left row; one column per AggregationPart, computed
    over the forward window (ts, ts + window] of the label stream."""
    if gb.sawtooth:
        raise ValueError("label_join requires exact windows (sawtooth=False)")
    if gb.derivations and any(a.op in _MIRROR for a in gb.aggregations):
        raise ValueError(
            "label_join cannot combine derivations with order-sensitive ops "
            "(derivation expressions would see the mirrored column names); "
            "apply the projection on the returned DataFrame instead"
        )

    # Negated time must re-enter the as-of machinery through the lossless
    # timestamp branch of ensure_ts_us (a bigint column would be read as
    # epoch MILLIS and rescaled); timestamp_micros(-us) is an exact pre-1970
    # timestamp carrying the negated micros.
    def _negate(df: DataFrame, col: str) -> DataFrame:
        df = ensure_ts_us(df, col, _NEG_TS)
        return df.withColumn(_NEG_TS, F.timestamp_micros(-F.col(_NEG_TS)))

    left2 = _negate(left, left_time_column)
    labels2 = _negate(labels, gb.time_column)

    label_types = dict(labels2.dtypes)
    neg_tbs: list[str] = []
    for tb in gb.tie_breakers:
        if label_types.get(tb) not in _NUMERIC:
            raise ValueError(
                f"label_join tie_breaker {tb!r} must be numeric to mirror its order "
                f"(got {label_types.get(tb)})"
            )
        nc = f"__lj_neg_{tb}"
        labels2 = labels2.withColumn(nc, -F.col(tb))
        neg_tbs.append(nc)

    gb2 = replace(
        gb,
        aggregations=[replace(a, op=_MIRROR.get(a.op, a.op)) for a in gb.aggregations],
        time_column=_NEG_TS,
        tie_breakers=neg_tbs,
    )
    out = asof_join(
        left2,
        labels2,
        gb2,
        left_time_column=_NEG_TS,
        key_mapping=key_mapping,
        prefilter=prefilter,
    )
    # Single aliased select (NOT sequential renames: with both FIRST and LAST
    # present the mirrored names swap into each other, and chained
    # withColumnRenamed would transiently duplicate a name and rename both)
    finals = {
        m.output_name: (f"{prefix}_{o.output_name}" if prefix else o.output_name)
        for m, o in zip(gb2.parts(), gb.parts())
    }
    passthrough = [c for c in out.columns if c not in finals and c != _NEG_TS]
    return out.select(
        *[F.col(c) for c in passthrough], *[F.col(m).alias(v) for m, v in finals.items()]
    )
