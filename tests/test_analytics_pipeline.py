"""E2E test of the reference analytics pipeline (SURVEY §3 E3):
add_features parity vs a pandas reimplementation, then the fan-out's
artifact shapes."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def _synthetic_candles(n_per_symbol: int = 240) -> pd.DataFrame:
    rng = np.random.RandomState(11)
    frames = []
    for sym in ["AAAUSDT", "BBBUSDT"]:
        ts = pd.date_range("2024-01-01", periods=n_per_symbol, freq="1min")
        close = 100 + np.cumsum(rng.randn(n_per_symbol))
        close = np.abs(close) + 1.0
        frames.append(
            pd.DataFrame(
                {
                    "symbol": sym,
                    "tf": "1m",
                    "open_time": ts,
                    "open": close * (1 + 0.001 * rng.randn(n_per_symbol)),
                    "high": close * 1.01,
                    "low": close * 0.99,
                    "close": close,
                    "volume": np.abs(rng.lognormal(0, 1, n_per_symbol)),
                    "num_trades": rng.randint(0, 50, n_per_symbol),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def test_add_features_matches_pandas(spark):
    from kp_crypto_market_analytics_spark.analytics.pipeline import add_features

    pdf = _synthetic_candles()
    got = (
        add_features(spark.createDataFrame(pdf))
        .orderBy("symbol", "open_time")
        .toPandas()
    )

    # pandas ground truth, the reference's own arithmetic
    # (binance_analysis.py:209-245)
    exp = pdf.sort_values(["symbol", "open_time"]).reset_index(drop=True)
    exp["log_close"] = np.log(exp["close"])
    exp["log_ret"] = exp.groupby("symbol")["log_close"].diff()
    exp["abs_ret"] = exp["log_ret"].abs()
    exp["vol_60m"] = (
        exp.groupby("symbol")["log_ret"]
        .rolling(60, min_periods=30)
        .std()
        .reset_index(level=0, drop=True)
        * np.sqrt(60)
    )
    filled = exp["abs_ret"].fillna(0.0)
    med = filled.median()
    mad = (filled - med).abs().median()
    z = 0.6745 * (filled - med) / mad if mad > 0 else filled - med
    lv = np.log1p(exp["volume"]).fillna(0.0)
    med2 = lv.median()
    mad2 = (lv - med2).abs().median()
    z2 = 0.6745 * (lv - med2) / mad2 if mad2 > 0 else lv - med2
    exp["anomaly_score"] = np.maximum(np.abs(z), np.abs(z2))

    assert np.allclose(got["log_ret"].fillna(-9), exp["log_ret"].fillna(-9), atol=1e-9)
    assert np.allclose(got["vol_60m"].fillna(-9), exp["vol_60m"].fillna(-9), atol=1e-9)
    assert np.allclose(got["anomaly_score"], exp["anomaly_score"], atol=1e-9)


def test_fanout_artifact_shapes(spark, tmp_path):
    from kp_crypto_market_analytics_spark.analytics.pipeline import (
        add_features,
        analytics_fanout,
    )
    from kp_crypto_market_analytics_spark.sinks.artifacts import write_csv_artifact

    feats = add_features(spark.createDataFrame(_synthetic_candles()))
    arts = analytics_fanout(feats)

    daily = arts["daily"].collect()
    assert len(daily) == 1  # 240 minutes fit in one day
    heat = arts["heatmap"].toPandas()
    assert [c for c in heat.columns if c.startswith("h")] == [f"h{i}" for i in range(24)]
    corr = arts["correlation"].toPandas()
    assert set(zip(corr["key_a"], corr["key_b"])) == {
        ("AAAUSDT", "AAAUSDT"), ("AAAUSDT", "BBBUSDT"),
        ("BBBUSDT", "AAAUSDT"), ("BBBUSDT", "BBBUSDT"),
    }
    top = arts["top_anomalies"].collect()
    assert 0 < len(top) <= 200

    write_csv_artifact(arts["daily"], str(tmp_path / "daily_summary"))
    import glob

    assert glob.glob(str(tmp_path / "daily_summary" / "*.csv"))
    feats.unpersist()


def _drain(sc) -> None:
    """Block until the listener bus has delivered every job event, so
    the status tracker holds every finished job."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _jobs_in_group(sc, tag: str) -> set[int]:
    _drain(sc)
    return set(sc.statusTracker().getJobIdsForGroup(tag))


def _latest_job_id(sc) -> int:
    """Id of a fresh ungrouped marker job; job ids are sequential, so
    ids between two markers are exactly the jobs launched in between."""
    sc.parallelize([0], 1).count()
    _drain(sc)
    return max(sc.statusTracker().getJobIdsForGroup(None))


def _clear_job_group(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_run_concurrently_waits_then_reraises_first_failure(spark):
    import time

    import pytest

    from kp_crypto_market_analytics_spark.session import run_concurrently

    finished = []

    def slow(i):
        def task():
            time.sleep(0.2)
            finished.append(i)
            return i
        return task

    def boom(msg):
        def task():
            raise ValueError(msg)
        return task

    assert run_concurrently(spark, []) == []
    assert run_concurrently(spark, [slow(0), lambda: "x", slow(2)]) == [0, "x", 2]
    finished.clear()
    with pytest.raises(ValueError, match="first"):
        run_concurrently(spark, [slow(0), boom("first"), slow(2), boom("second")])
    # Every task ran to the end before the failure surfaced.
    assert sorted(finished) == [0, 2]


def test_fanout_and_figures_jobs_stay_in_caller_job_group(spark, tmp_path):
    # Per-op trace attribution and cancel-by-group rely on every job the
    # fan-out and the figure set launch — including those submitted from
    # their worker threads — carrying the caller's job group.
    from kp_crypto_market_analytics_spark.analytics.pipeline import (
        add_features,
        analytics_fanout,
    )
    from kp_crypto_market_analytics_spark.sinks.figures import write_figures

    sc = spark.sparkContext
    tag = "test-fanout-job-group"
    feats = add_features(spark.createDataFrame(_synthetic_candles()))
    first = _latest_job_id(sc)
    sc.setJobGroup(tag, "analytics fan-out + figures")
    try:
        arts = analytics_fanout(feats)
        write_figures(arts, str(tmp_path / "figs"), features=feats)
    finally:
        _clear_job_group(sc)
        feats.unpersist()
    last = _latest_job_id(sc)
    launched = set(range(first + 1, last))
    assert launched, "no jobs launched"
    assert _jobs_in_group(sc, tag) == launched


def test_fanout_checkpoints_match_lazy_aggregates(spark, tmp_path):
    # Each checkpointed artifact holds the same rows, in the same order,
    # as its aggregate built lazily on the persisted features, and its
    # CSV artifact is byte-identical.
    import glob

    from kp_crypto_market_analytics_spark.analytics.pipeline import (
        add_features,
        analytics_fanout,
        artifact_frames,
    )
    from kp_crypto_market_analytics_spark.sinks.artifacts import write_csv_artifact

    def csv_bytes(path: str) -> bytes:
        (part,) = glob.glob(path + "/part-*.csv")
        with open(part, "rb") as f:
            return f.read()

    feats = add_features(spark.createDataFrame(_synthetic_candles()))
    try:
        arts = analytics_fanout(feats)
        lazy = artifact_frames(feats)
        assert list(arts) == list(lazy)
        for key, df in arts.items():
            assert df.collect() == lazy[key].collect(), key
            write_csv_artifact(df, str(tmp_path / "ckpt" / key))
            write_csv_artifact(lazy[key], str(tmp_path / "lazy" / key))
            assert csv_bytes(str(tmp_path / "ckpt" / key)) == csv_bytes(
                str(tmp_path / "lazy" / key)
            ), key
    finally:
        feats.unpersist()


# Spark jobs one write_figures call launches on _synthetic_candles(): the
# focus-symbol lookup and the thinning count, then one per panel read —
# each aggregate artifact read is a single scan of its checkpoint —
# except the histogram (three: its min/max, then the two stages of its
# bin counts) and the anomaly scatter (two: dots and base line).  A
# structural count: it does not depend on timing or core count.
WRITE_FIGURES_JOBS = 14


def test_fanout_sink_job_counts_are_pinned(spark, tmp_path):
    # ROADMAP direction 2: job counts do not drift, wall time does.  A
    # change that makes a sink re-run an artifact's aggregate, or adds a
    # figure job, fails here whatever the machine's speed.
    from kp_crypto_market_analytics_spark.analytics.pipeline import (
        add_features,
        analytics_fanout,
    )
    from kp_crypto_market_analytics_spark.sinks.artifacts import write_csv_artifact
    from kp_crypto_market_analytics_spark.sinks.figures import write_figures

    sc = spark.sparkContext
    feats = add_features(spark.createDataFrame(_synthetic_candles()))
    try:
        arts = analytics_fanout(feats)
        counts = {}
        for key, df in arts.items():
            tag = f"test-jobcount-csv-{key}"
            sc.setJobGroup(tag, "write_csv_artifact")
            write_csv_artifact(df, str(tmp_path / key))
            counts[key] = len(_jobs_in_group(sc, tag))
        sc.setJobGroup("test-jobcount-figures", "write_figures")
        write_figures(arts, str(tmp_path / "figs"), features=feats)
        figure_jobs = len(_jobs_in_group(sc, "test-jobcount-figures"))
    finally:
        _clear_job_group(sc)
        feats.unpersist()
    assert counts == dict.fromkeys(arts, 1)
    assert figure_jobs == WRITE_FIGURES_JOBS


def test_funnel_strict_ordering_semantics(spark, tmp_path):
    # A click BEFORE the user's first view must not qualify; a purchase
    # only counts after a qualifying click.  Planted fixture exercises
    # every branch of the strict-order predicate.
    import datetime as dt

    from kp_crypto_market_analytics_spark.queries import QUERIES

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, typ, minutes):
        return (uid, t0 + dt.timedelta(minutes=minutes), uid, typ, 1.0, "{}")

    rows = [
        # u1: full ordered funnel
        ev(1, "view", 0), ev(1, "click", 10), ev(1, "purchase", 20),
        # u2: click before first view -> click does NOT qualify
        ev(2, "click", 0), ev(2, "view", 10), ev(2, "purchase", 20),
        # u3: view then click, purchase BEFORE click -> purchase out
        ev(3, "view", 0), ev(3, "purchase", 5), ev(3, "click", 10),
        # u4: view only
        ev(4, "view", 0),
    ]
    df = spark.createDataFrame(
        rows, "event_id: long, ts: timestamp, user_id: long, event_type: string, value: double, props: string"
    )
    out = str(tmp_path / "funnel_events")
    df.write.parquet(out + "/events.parquet")
    got = {r.step: r.n_users for r in QUERIES["a_funnel_steps"](spark, out).collect()}
    assert got == {"1_view": 4, "2_click": 2, "3_purchase": 1}
