"""Kernel-only micro-bench of the as-of join's Python layer
(``chronon_spark.aggregators.kernels``), with no Spark in the timed region.

One coarse bucket of the benchmark's own transcripts goes through the three
steps a co-group task runs, timed apart:

- decode: Arrow -> pandas for both sides, key factorize, and building
  ``MultiKeyEventColumns``;
- compute: ``compute_parts_multikey``;
- encode: the result frame to an Arrow batch with the co-group's output schema.

Only compute calls the engine's code alone. The co-group function that does
decode and encode (``fn_multikey`` in ``operators/asof_join.py``) is a
closure private to ``asof_join``, so decode and encode time a copy of its
glue, without the ``__r_`` column rename and the per-key overflow fallback.
A change to that glue in the engine does not move them. Untimed,
``bucket_bench`` checks that the copy's features equal ``asof_join``'s for
the same bucket, so the copy cannot drift from the engine unseen.

The bucket is the one holding the hottest key under the engine's bucketing
(``pmod(xxhash64(keys), n)``), i.e. the task that bounds the stage. A second
case has the reference sawtooth micro-benchmark's shape: one key, 20k events
x 20k queries, LAST_K(50).
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from chronon_spark.aggregators.kernels import _US_D, MultiKeyEventColumns, compute_parts_multikey
from chronon_spark.api import Aggregation, GroupBy, Op
from chronon_spark.operators.asof_join import asof_join
from chronon_spark.types import part_output_type
from tests.oracle import assert_frames_allclose
from workloads import ASOF_GB, HOT_KEYS, user_turns

_TS_US = "__ts_us"
REPEATS = 3


def _ts_us(s: pd.Series) -> np.ndarray:
    return s.astype("datetime64[us]").astype("int64").to_numpy()


def _one_pass(l_tab: pa.Table, r_tab: pa.Table, gb: GroupBy, key: str, schema: pa.Schema) -> tuple:
    t0 = time.perf_counter()
    lpdf, rpdf = l_tab.to_pandas(), r_tab.to_pandas()
    codes = pd.factorize(pd.concat([lpdf[key], rpdf[key]], ignore_index=True))[0]
    lcodes, rcodes = codes[: len(lpdf)], codes[len(lpdf) :]
    q_ts, r_ts = lpdf[_TS_US].to_numpy("int64"), rpdf[_TS_US].to_numpy("int64")
    lo, hi = min(q_ts.min(), r_ts.min()), max(q_ts.max(), r_ts.max())
    base = (int(lo) // _US_D) * _US_D
    mec = MultiKeyEventColumns(rpdf, rcodes, r_ts, list(gb.tie_breakers), base, int(hi - base) + 2)
    t1 = time.perf_counter()
    feats = compute_parts_multikey(mec, gb.parts(), lcodes, q_ts, gb.include_equal, gb.sawtooth)
    t2 = time.perf_counter()
    out = lpdf[[f.name for f in schema if f.name in lpdf.columns]].copy()
    for p in gb.parts():
        out[p.output_name] = feats[p.output_name]
    pa.RecordBatch.from_pandas(out, schema=schema, preserve_index=False)
    t3 = time.perf_counter()
    return t1 - t0, t2 - t1, t3 - t2, out


def _median_passes(l_tab, r_tab, gb, key, schema) -> tuple:
    """Median decode, compute and encode seconds, and the output frame."""
    runs = [_one_pass(l_tab, r_tab, gb, key, schema) for _ in range(REPEATS)]
    return tuple(statistics.median(r[i] for r in runs) for i in range(3)) + (runs[0][3],)


def _out_schema(left_fields, right_types: dict, gb: GroupBy) -> pa.Schema:
    fields = list(left_fields) + [
        T.StructField(p.output_name, part_output_type(p, right_types[p.input_column]), True) for p in gb.parts()
    ]
    return to_arrow_schema(T.StructType(fields))


def bucket_bench(spark, events_df, events: pd.DataFrame) -> dict:
    """decode/compute/encode seconds of asof_dense's spec and queries on the
    hottest key's coarse bucket; ``events_df`` and ``events`` are the same
    transcripts, in Spark and in pandas. Raises AssertionError if the copied
    glue's features differ from ``asof_join``'s on this bucket."""
    gb = ASOF_GB
    left_df = user_turns(events_df)
    left = events.loc[events["role"] == "user", left_df.columns]
    key = gb.keys[0]
    n_buckets = max(int(spark.conf.get("spark.sql.shuffle.partitions")) * 4, 64)  # asof_join "auto"
    bucket_of = F.pmod(F.xxhash64(key), F.lit(n_buckets))
    keys_df = events_df.select(key).distinct().withColumn("__b", bucket_of)
    hot_b = keys_df.where(F.col(key) == HOT_KEYS[0]).first()["__b"]
    members = {r[key] for r in keys_df.where(F.col("__b") == hot_b).collect()}
    needed = sorted({p.input_column for p in gb.parts()} | set(gb.tie_breakers) | {key})
    r = events.loc[events[key].isin(members), needed + [gb.time_column]]
    r = r.assign(**{_TS_US: _ts_us(r[gb.time_column])})
    lq = left[left[key].isin(members)]
    lq = lq.assign(**{_TS_US: _ts_us(lq["ts"])})
    l_fields = [f for f in events_df.schema.fields if f.name in left.columns]
    schema = _out_schema(l_fields, {f.name: f.dataType for f in events_df.schema.fields}, gb)
    l_tab = pa.Table.from_pandas(lq.reset_index(drop=True), preserve_index=False)
    r_tab = pa.Table.from_pandas(r.reset_index(drop=True), preserve_index=False)
    dec, comp, enc, out = _median_passes(l_tab, r_tab, gb, key, schema)

    in_bucket = F.col(key).isin(list(members))
    engine = asof_join(left_df.where(in_bucket), events_df.where(in_bucket), gb).toPandas()
    cols = [c for c in out.columns if c not in (gb.time_column, _TS_US)]
    assert_frames_allclose(out[cols], engine[cols], sort_by=[c for c in cols if c in left.columns])
    return {
        "kernels.decode_s": dec,
        "kernels.compute_s": comp,
        "kernels.encode_s": enc,
        "kernels.rows_per_s": len(out) / comp,
    }


def sawtooth_lastk50(seed: int) -> float:
    """Seconds for one key: 20k events x 20k queries, LAST_K(50), sawtooth."""
    n = 20_000
    rng = np.random.default_rng(seed)
    span = 30 * _US_D
    ev = pd.DataFrame({"k": "k0", "v": rng.random(n), _TS_US: np.sort(rng.integers(0, span, n))})
    q = pd.DataFrame({"k": "k0", _TS_US: np.sort(rng.integers(0, span, n))})
    gb = GroupBy(keys=["k"], aggregations=[Aggregation("v", Op.LAST_K, windows=("1d",), k=50)], sawtooth=True)
    schema = pa.schema(
        [("k", pa.string()), (_TS_US, pa.int64()), (gb.parts()[0].output_name, pa.list_(pa.float64()))]
    )
    dec, comp, enc, _ = _median_passes(
        pa.Table.from_pandas(q, preserve_index=False), pa.Table.from_pandas(ev, preserve_index=False), gb, "k", schema
    )
    return dec + comp + enc
