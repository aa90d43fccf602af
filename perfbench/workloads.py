"""The benchmark's workloads, their seeded inputs and output checks.

Every workload reads the same seeded transcript table: ``N_TURNS`` turns,
one conversation per 160 turns (the ratio ``tools/scaling_bench.py`` uses),
30 days, and two hot conversations holding 10% of the turns each.

Timed workloads:

- ``asof_dense``: plain ``asof_join`` of every user turn against all turns,
  nine parts that share input columns across windows, noop sink. Loads the
  Arrow boundary, the numpy kernels and (through the hot keys) the exchange.
- ``tiled_backfill``: ``run_partitioned_backfill(strategy="tiled")`` for a
  5% sample of user turns into a fresh directory, then the same call again,
  which must resume as a no-op. Loads tiles, the sink and the manifests.

``ServingFetch`` (batch-IR upload at a day-28 batch end written as parquet,
then ``fetch_features`` for the user turns of the next two days) runs only
in traced runs, for the layers of ``jobs/upload``.

Each operation's output is checked: its row count, and a seeded sample of
rows (both hot keys included) against the brute-force oracle in
``tests/oracle.py`` at atol 1e-5.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from chronon_spark.api import Aggregation, GroupBy, Op
from chronon_spark.jobs.upload import build_batch_irs, fetch_features
from chronon_spark.operators.asof_join import asof_join
from chronon_spark.operators.tiles import build_hop_tiles
from chronon_spark.plans.manifest import run_partitioned_backfill
from chronon_spark.sources.synth import BASE_TS, synth_transcripts
from layers import LayerCalls
from tests.oracle import assert_frames_allclose, naive_features

N_TURNS = 500_000
TURNS_PER_CONV = 160
HOT_KEYS = ("conv_0", "conv_1")  # synth_transcripts makes its first n_hot convs hot
QUERY_FRAC = 0.05
BATCH_END_US = BASE_TS + 28 * 86_400_000_000
FETCH_DAYS = 2  # the IRs' valid range: [batch end, batch end + tail buffer)
SAMPLE_RANDOM, SAMPLE_PER_HOT = 16, 8
ROW_KEY = ["conv_id", "turn_idx"]

ASOF_GB = GroupBy(
    keys=["conv_id"],
    aggregations=[
        Aggregation("turn_idx", Op.COUNT, windows=("7d", "1h")),
        Aggregation("n_chars", Op.SUM, windows=("7d", "1h", "1d")),
        Aggregation("n_chars", Op.MAX, windows=("1h", "1d", "7d")),
        Aggregation("text", Op.LAST_K, windows=("2d",), k=3),
    ],
    tie_breakers=["turn_idx"],
)
SERVING_GB = GroupBy(
    keys=["conv_id"],
    aggregations=[
        Aggregation("turn_idx", Op.COUNT, windows=("13d",)),
        Aggregation("n_chars", Op.SUM, windows=("7d",)),
        Aggregation("n_chars", Op.VARIANCE, windows=("7d",)),
        Aggregation("text", Op.LAST_K, windows=("7d",), k=2),
    ],
    tie_breakers=["turn_idx"],
    sawtooth=True,
)
TILED_GB = GroupBy(
    keys=["conv_id"],
    aggregations=[
        Aggregation("turn_idx", Op.COUNT, windows=("7d", "30d")),
        Aggregation("n_chars", Op.SUM, windows=("7d", "30d")),
        Aggregation("n_chars", Op.AVERAGE, windows=("30d",)),
        Aggregation("n_chars", Op.MAX, windows=("7d",)),
    ],
    tie_breakers=["turn_idx"],
    sawtooth=True,
)


@dataclass
class Data:
    events: pd.DataFrame
    queries: pd.DataFrame  # the tiled backfill's left side
    events_path: str
    queries_path: str
    seed: int

    @property
    def n_turns(self) -> int:
        return len(self.events)


def _paths(workdir: str) -> tuple[str, str]:
    return os.path.join(workdir, "events.parquet"), os.path.join(workdir, "queries.parquet")


def write_inputs(seed: int, workdir: str) -> None:
    """Generate the seeded transcripts and the tiled backfill's queries as
    parquet (run in its own process, alongside the JVM start)."""
    ev = synth_transcripts(n_rows=N_TURNS, n_convs=N_TURNS // TURNS_PER_CONV, seed=seed)
    q = ev[ev["role"] == "user"].sample(frac=QUERY_FRAC, random_state=seed)[ROW_KEY + ["ts", "ds"]]
    events_path, queries_path = _paths(workdir)
    ev.to_parquet(events_path, index=False)
    q.to_parquet(queries_path, index=False)


def read_inputs(seed: int, workdir: str) -> Data:
    events_path, queries_path = _paths(workdir)
    return Data(pd.read_parquet(events_path), pd.read_parquet(queries_path), events_path, queries_path, seed)


def _pick_sample(frame: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Seeded query rows for the oracle check, always including hot keys."""
    rng = np.random.default_rng(seed)
    picks = [frame.iloc[rng.choice(len(frame), SAMPLE_RANDOM, replace=False)]]
    for k in HOT_KEYS:
        hot = frame[frame["conv_id"] == k]
        picks.append(hot.iloc[rng.choice(len(hot), min(SAMPLE_PER_HOT, len(hot)), replace=False)])
    return pd.concat(picks).drop_duplicates(ROW_KEY)[ROW_KEY + ["ts"]].reset_index(drop=True)


def _row_keys(frame: pd.DataFrame) -> list[str]:
    return [f"{c}#{t}" for c, t in zip(frame["conv_id"], frame["turn_idx"])]


def _oracle_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    try:
        assert_frames_allclose(got[list(want.columns)], want, sort_by=ROW_KEY)
    except (AssertionError, KeyError) as e:
        return f"oracle mismatch: {str(e)[:300]}"
    return None


def user_turns(events_df):
    """The as-of queries: every user turn."""
    return events_df.where(F.col("role") == "user").select(*ROW_KEY, "ts")


class Workload:
    """One timed operation (``op``) plus its output check (``check``)."""

    name = ""
    gb: GroupBy

    def __init__(self, spark, data: Data, workdir: str):
        self.spark, self.data, self.workdir = spark, data, workdir
        self.events_df = spark.read.parquet(data.events_path)

    def candidates(self) -> pd.DataFrame:
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed: the oracle's answer for the seeded sample rows."""
        self.sample = _pick_sample(self.candidates(), self.data.seed)
        ev = self.data.events
        self.want = naive_features(ev[ev["conv_id"].isin(set(self.sample["conv_id"]))], self.sample, self.gb)

    def _observed_noop(self, df):
        """Run ``df`` into the noop sink; observe its row count and the
        sample rows on the way (no second job)."""
        obs = Observation()
        key = F.concat_ws("#", F.col("conv_id"), F.col("turn_idx").cast("string"))
        picked = F.when(key.isin(_row_keys(self.sample)), F.struct(*df.columns))
        df.observe(obs, F.count(F.lit(1)).alias("n"), F.collect_list(picked).alias("rows")).write.format(
            "noop"
        ).mode("overwrite").save()
        m = obs.get
        return m["n"], pd.DataFrame([r.asDict() for r in m["rows"]])

    def reset(self) -> None:
        """Untimed set-up before each operation."""

    def op(self, calls: LayerCalls) -> dict:
        raise NotImplementedError

    def check(self, res: dict) -> str | None:
        raise NotImplementedError

    def counters(self, res: dict) -> dict:
        """Per-layer counts of one operation (untimed)."""
        return {}


class AsofDense(Workload):
    name = "asof_dense"
    gb = ASOF_GB

    def __init__(self, spark, data, workdir):
        super().__init__(spark, data, workdir)
        self.left_df = user_turns(self.events_df)

    def candidates(self):
        ev = self.data.events
        return ev[ev["role"] == "user"]

    def op(self, calls):
        with calls.call("asof_join"):
            n, rows = self._observed_noop(asof_join(self.left_df, self.events_df, self.gb))
        return {"out_rows": n, "rows": rows}

    def check(self, res):
        n_left = int((self.data.events["role"] == "user").sum())
        if res["out_rows"] != n_left:
            return f"out_rows {res['out_rows']} != left rows {n_left}"
        return _oracle_mismatch(res["rows"], self.want)


class ServingFetch(Workload):
    name = "serving_fetch"
    gb = SERVING_GB

    def __init__(self, spark, data, workdir):
        super().__init__(spark, data, workdir)
        lo = pd.Timestamp(BATCH_END_US, unit="us")
        self.window = (lo, lo + pd.Timedelta(days=FETCH_DAYS))
        self.queries_df = self.events_df.where(
            (F.col("role") == "user") & (F.col("ts") >= F.lit(self.window[0])) & (F.col("ts") < F.lit(self.window[1]))
        ).select(*ROW_KEY, "ts")
        self.irs_path = os.path.join(workdir, "serving_irs")

    def candidates(self):
        ev = self.data.events
        return ev[(ev["role"] == "user") & (ev["ts"] >= self.window[0]) & (ev["ts"] < self.window[1])]

    def op(self, calls):
        obs = Observation()
        with calls.call("upload.build_irs"):
            irs = build_batch_irs(self.events_df, self.gb, BATCH_END_US)
            irs.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(self.irs_path)
        with calls.call("upload.fetch"):
            irs_df = self.spark.read.parquet(self.irs_path)
            n, rows = self._observed_noop(fetch_features(self.queries_df, irs_df, self.events_df, self.gb, BATCH_END_US))
        return {"ir_rows": obs.get["n"], "out_rows": n, "rows": rows}

    def check(self, res):
        ev = self.data.events
        n_keys = ev.loc[ev["ts"] < self.window[0], "conv_id"].nunique()
        if res["ir_rows"] != n_keys:
            return f"ir_rows {res['ir_rows']} != keys before the batch end {n_keys}"
        n_q = len(self.candidates())
        if res["out_rows"] != n_q:
            return f"fetch rows {res['out_rows']} != queries {n_q}"
        return _oracle_mismatch(res["rows"], self.want)

    def counters(self, res):
        files = glob.glob(os.path.join(self.irs_path, "*.parquet"))
        return {
            "upload.ir_rows": float(res["ir_rows"]),
            "upload.ir_mb": sum(os.path.getsize(f) for f in files) / 2**20,
            "upload.fetch_rows": float(res["out_rows"]),
        }


class TiledBackfill(Workload):
    name = "tiled_backfill"
    gb = TILED_GB

    def __init__(self, spark, data, workdir):
        super().__init__(spark, data, workdir)
        self.out = os.path.join(workdir, "tiled_out")
        self.ckpt = os.path.join(workdir, "tiled_ckpt")

    def candidates(self):
        return self.data.queries

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.ckpt, ignore_errors=True)

    def _backfill(self):
        return run_partitioned_backfill(
            self.spark, self.data.events_path, self.data.queries_path, self.out, self.ckpt,
            gb=self.gb, strategy="tiled",
        )

    def op(self, calls):
        with calls.call("manifest.backfill"):
            first = self._backfill()
        with calls.call("manifest.resume"):
            again = self._backfill()
        return {"first": first, "again": again}

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.out, "ds=*", "*.parquet")))

    def check(self, res):
        n_q, n_ds = len(self.data.queries), self.data.queries["ds"].nunique()
        first, again = res["first"], res["again"]
        if first["partitions_computed"] != n_ds or first["rows_out"] != n_q:
            return f"first call {first}, expected {n_ds} partitions and {n_q} rows"
        if again["partitions_computed"] != 0 or again["partitions_skipped_resume"] != n_ds:
            return f"second call did not resume as a no-op: {again}"
        got = pq.ParquetDataset(self._files()).read().to_pandas()
        if len(got) != n_q or got.duplicated(ROW_KEY).any():
            return f"read-back has {len(got)} rows for {n_q} queries (or duplicate rows)"
        rows = got.merge(self.sample[ROW_KEY], on=ROW_KEY)
        return _oracle_mismatch(rows, self.want)

    def counters(self, res):
        files = self._files()
        return {
            "manifest.partitions_computed": float(res["first"]["partitions_computed"]),
            "manifest.partitions_skipped": float(res["again"]["partitions_skipped_resume"]),
            "sink.write_mb": sum(os.path.getsize(f) for f in files) / 2**20,
            "sink.files": float(len(files)),
        }

    def build_tiles(self, calls: LayerCalls) -> float:
        """``build_hop_tiles`` materialized on its own; returns its rows."""
        obs = Observation()
        with calls.call("tiles.build"):
            tiles = build_hop_tiles(self.events_df, self.gb)
            tiles.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        return float(obs.get["n"])


WORKLOADS = {w.name: w for w in (AsofDense, TiledBackfill)}
