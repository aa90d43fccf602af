"""Multikey (whole-bucket vectorized) kernel vs a per-key brute-force
recomputation (tests/oracle.naive_features): identical results for every op,
both boundary modes, sawtooth on/off, nulls, duplicate timestamps, vector
inputs, keys present on only one side, and batches split into key-code
chunks (the composite-index overflow path)."""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pandas as pd
import pytest

from chronon_spark.aggregators import kernels
from chronon_spark.aggregators.kernels import (
    _US_D,
    MultiKeyEventColumns,
    composite_frame,
    compute_parts_multikey,
    key_code_chunks,
)
from chronon_spark.api import Aggregation, GroupBy, Op
from chronon_spark.resolution import tail_hop_millis
from chronon_spark.sources.synth import synth_queries, synth_transcripts
from tests.oracle import naive_features

ALL_OPS_GB = GroupBy(
    keys=["conv_id"],
    aggregations=[
        Aggregation("turn_idx", Op.COUNT, windows=("7d", "1h", None)),
        Aggregation("n_chars", Op.SUM, windows=("3d",)),
        Aggregation("n_chars", Op.AVERAGE, windows=("3d",)),
        Aggregation("n_chars", Op.MIN, windows=("3d",)),
        Aggregation("n_chars", Op.MAX, windows=("3d",)),
        Aggregation("n_chars", Op.VARIANCE, windows=("7d",)),
        Aggregation("n_chars", Op.SKEW, windows=("7d",)),
        Aggregation("n_chars", Op.KURTOSIS, windows=("7d",)),
        Aggregation("n_chars", Op.APPROX_PERCENTILE, windows=("7d",), percentiles=(0.25, 0.9)),
        Aggregation("text", Op.FIRST, windows=("7d",)),
        Aggregation("text", Op.LAST, windows=("7d",)),
        Aggregation("text", Op.FIRST_K, windows=("2d",), k=3),
        Aggregation("text", Op.LAST_K, windows=("2d",), k=3),
        Aggregation("n_chars", Op.TOP_K, windows=("7d",), k=2),
        Aggregation("n_chars", Op.BOTTOM_K, windows=("7d",), k=2),
        Aggregation("role", Op.UNIQUE_COUNT, windows=("7d",)),
        Aggregation("role", Op.HISTOGRAM, windows=("7d",)),
        Aggregation("role", Op.UNIQUE_TOP_K, windows=("7d",), k=2),
    ],
    tie_breakers=["turn_idx"],
)


def _perkey(ev, q, gb, include_equal, sawtooth):
    """Brute-force per-key features: tests/oracle.naive_features for every op
    it covers, UNIQUE_TOP_K (absent from the oracle) recomputed here."""
    gb = replace(gb, include_equal=include_equal, sawtooth=sawtooth)
    oracle_gb = replace(gb, aggregations=[a for a in gb.aggregations if a.op != Op.UNIQUE_TOP_K])
    want = naive_features(ev, q, oracle_gb)
    res = {p.output_name: want[p.output_name].tolist() for p in oracle_gb.parts()}
    ev_us = ev.assign(_us=ev["ts"].astype("datetime64[us]").astype("int64"))
    ev_us = ev_us.sort_values(["_us"] + list(gb.tie_breakers), kind="stable")
    q_us = q["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    for p in gb.parts():
        if p.op != Op.UNIQUE_TOP_K:
            continue
        col = []
        for key, qt in zip(q["conv_id"], q_us):
            start = qt - p.window.millis * 1000
            if sawtooth:
                hop = tail_hop_millis(p.window.millis) * 1000
                start = (start // hop) * hop
            end = ev_us["_us"] <= qt if include_equal else ev_us["_us"] < qt
            win = ev_us[(ev_us["conv_id"] == key) & end & (ev_us["_us"] >= start)][p.input_column].dropna()
            col.append(sorted(set(win), reverse=True)[: p.k] if len(win) else None)
        res[p.output_name] = col
    return res


def _codes(ev, q):
    joint = pd.concat([q["conv_id"], ev["conv_id"]], ignore_index=True)
    codes = pd.factorize(joint)[0]
    return codes[: len(q)], codes[len(q) :]


def _multikey(ev, q, parts, include_equal, sawtooth):
    lcodes, rcodes = _codes(ev, q)
    q_ts = q["tus"].to_numpy("int64")
    r_ts = ev["tus"].to_numpy("int64")
    base, block = composite_frame(q_ts, r_ts)
    mec = MultiKeyEventColumns(ev, rcodes, r_ts, ["turn_idx"], base, block)
    return compute_parts_multikey(mec, parts, lcodes, q_ts, include_equal, sawtooth)


def _isnull(x):
    return x is None or (isinstance(x, float) and np.isnan(x))


def _eq(a, b):
    if _isnull(a) or _isnull(b):
        return _isnull(a) and _isnull(b)
    if isinstance(a, dict) or isinstance(b, dict):
        return a.keys() == b.keys() and all(_eq(a[k], b[k]) for k in b)
    if isinstance(a, (list, np.ndarray)) or isinstance(b, (list, np.ndarray)):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    fa, fb = float(a), float(b)
    return abs(fa - fb) <= 1e-7 + 1e-7 * abs(fb)


@pytest.mark.parametrize("include_equal,sawtooth", [(False, False), (True, False), (False, True)])
def test_multikey_equals_perkey_all_ops(include_equal, sawtooth):
    ev = synth_transcripts(n_rows=3000, n_convs=40)
    ev["tus"] = ev["ts"].astype("int64")
    q = synth_queries(ev, n_queries=400)
    q["tus"] = q["ts"].astype("int64")
    # include queries for a key with no events at all
    q = pd.concat(
        [q, pd.DataFrame([{"conv_id": "conv_never", "ts": ev["ts"].iloc[0], "tus": int(ev["tus"].iloc[0])}])],
        ignore_index=True,
    )
    parts = ALL_OPS_GB.parts()
    want = _perkey(ev, q, ALL_OPS_GB, include_equal, sawtooth)
    got = _multikey(ev, q, parts, include_equal, sawtooth)
    for p in parts:
        for i in range(len(q)):
            a, b = got[p.output_name][i], want[p.output_name][i]
            assert _eq(a, b), f"{p.output_name} row {i}: multikey={a!r} perkey={b!r}"


def test_multikey_vector_inputs():
    """Array-typed input columns auto-explode identically on both paths."""
    rng = np.random.default_rng(5)
    n = 600
    base = pd.Timestamp("2024-01-01").value // 1000
    ev = pd.DataFrame(
        {
            "conv_id": rng.choice([f"c{i}" for i in range(12)], n),
            "turn_idx": np.arange(n, dtype=np.int32),
            "vals": [
                None if rng.random() < 0.1 else list(rng.integers(0, 50, rng.integers(0, 4)))
                for _ in range(n)
            ],
            "tus": base + rng.integers(0, 10 * _US_D, n),
        }
    )
    ev["ts"] = pd.to_datetime(ev["tus"], unit="us")
    q = ev[["conv_id", "ts", "tus"]].sample(n=150, random_state=1).reset_index(drop=True)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("vals", Op.SUM, windows=("3d",)),
            Aggregation("vals", Op.COUNT, windows=("3d",)),
        ],
        tie_breakers=["turn_idx"],
    )
    parts = gb.parts()
    # the oracle aggregates scalars: one row per array element
    want = _perkey(ev.explode("vals"), q, gb, False, False)
    got = _multikey(ev, q, parts, False, False)
    for p in parts:
        for i in range(len(q)):
            assert _eq(got[p.output_name][i], want[p.output_name][i]), (p.output_name, i)


@pytest.mark.parametrize("sawtooth", [False, True])
def test_key_code_chunks_equal_whole_bucket(sawtooth):
    """The composite-overflow split: the same batch run as key-code chunks
    (codes renumbered per chunk, null-key queries kept at -1) must give
    every query exactly the whole-bucket result."""
    ev = synth_transcripts(n_rows=3000, n_convs=40)
    ev["tus"] = ev["ts"].astype("int64")
    q = synth_queries(ev, n_queries=400)
    q["tus"] = q["ts"].astype("int64")
    q.loc[::17, "conv_id"] = None  # null-key queries
    parts = ALL_OPS_GB.parts()
    whole = _multikey(ev, q, parts, False, sawtooth)

    lcodes, rcodes = _codes(ev, q)
    q_ts, r_ts = q["tus"].to_numpy("int64"), ev["tus"].to_numpy("int64")
    base, block = composite_frame(q_ts, r_ts)
    assert len(list(key_code_chunks(lcodes, rcodes, block))) == 1  # fits: no split
    # a block of 2**62 / 4 leaves room for 3 key codes per chunk
    chunks = list(key_code_chunks(lcodes, rcodes, kernels._COMPOSITE_LIMIT // 4))
    assert len(chunks) >= 10
    got = {p.output_name: [None] * len(q) for p in parts}
    hits = np.zeros(len(q), np.int64)
    for qi, ri, lc, rc in chunks:
        assert lc.max() < 3 and rc.max(initial=0) < 3
        mec = MultiKeyEventColumns(ev.iloc[ri], rc, r_ts[ri], ["turn_idx"], base, block)
        res = compute_parts_multikey(mec, parts, lc, q_ts[qi], False, sawtooth)
        for p in parts:
            for i, v in zip(qi, res[p.output_name]):
                got[p.output_name][i] = v
        hits[qi] += 1
    assert (hits == 1).all()
    null_rows = np.flatnonzero(lcodes < 0)
    assert len(null_rows) and all(whole[p.output_name][i] is None for p in parts for i in null_rows)
    for p in parts:
        for i in range(len(q)):
            a, b = got[p.output_name][i], whole[p.output_name][i]
            assert _eq(a, b), f"{p.output_name} row {i}: chunked={a!r} whole={b!r}"
