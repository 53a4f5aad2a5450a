"""The benchmark workloads: single client, closed loop, one process.

Each workload builds its inputs (untimed), then repeats its unit of work
until the run's time budget is spent.  A unit returns its wall time, the
latency of every operation it issued, the rows it processed and, in a
traced run, per-layer counters.  Output checks run after each unit, outside
the timed region; a wrong result counts as a failed operation.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import sys
import time

import gen
from tracing import planning_seconds

# Frozen registry list.  The floor group sits at the planning/dispatch
# floor, one cheap query per family (ti_, a_, w_, q, dq_, t_, g_, j, e_);
# the heavy query runs a Python kernel over two session materializations.
REGISTRY_FLOOR = [
    "ti_bollinger", "a_rollup_daily", "w2_rolling_std", "q1_pricing_summary",
    "dq_l_diversity", "t_token_stats", "g_bipartite_projection", "j1_minute_equijoin",
    "e_quantize_int8",
]
REGISTRY_HEAVY = ["dedup_semantic"]
# Sizes; README.md gives the derivation of each.
REGISTRY_SF = 0.01  # the repo's default verification fixture size
INGEST_FILES = 6  # micro-batches per replay: 6 h of tape, a table of about 2880 candles


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


class Workload:
    """Base: ``prepare`` (untimed inputs), ``register``/``warmup`` (the
    set-up the user pays per session), ``warm_unit`` (a unit's calls once,
    untimed, on inputs from seed 0 where the workload generates them, so
    JIT, code generation and Python worker start-up are paid before
    timing),
    ``unit`` (one timed unit)."""

    name = ""
    modules: tuple[str, ...] = ()  # the program modules the workload calls

    def __init__(self, ctx):
        self.ctx = ctx
        self.next_unit = 0
        self.work = os.path.join(ctx.work, self.name)
        os.makedirs(self.work, exist_ok=True)

    def register(self, spark) -> None:
        pass

    def oracle(self, spark) -> None:
        pass

    def group(self, spark, tag: str) -> None:
        if self.ctx.tracer.enabled:
            spark.sparkContext.setJobGroup(tag, f"perfbench {self.name} {tag}")

    def counters(self, tag: str, wall: float) -> dict:
        return self.ctx.probe.group_counters(tag, wall) if self.ctx.tracer.enabled else {}


class EtlBatch(Workload):
    """collect → load → analytics as library calls."""

    name = "etl_batch"
    modules = tuple(f"kp_crypto_market_analytics_spark.{m}" for m in (
        "sources.files", "sinks.upsert", "analytics.pipeline", "sinks.artifacts",
        "sinks.figures", "sinks.report"))

    def prepare(self) -> None:
        self.inp = gen.klines(os.path.join(self.work, "input"), self.ctx.seed)
        self.warm = gen.klines(os.path.join(self.work, "warm"), 0, minutes=60)
        self.input_bytes = sum(os.path.getsize(p) for g in (self.inp["base_glob"],
                               self.inp["revision_glob"]) for p in glob.glob(g))
        self.daily_oracle = self._daily_oracle()

    def warmup(self, spark) -> None:
        from kp_crypto_market_analytics_spark.sources.files import read_klines_csv

        read_klines_csv(spark, self.warm["base_glob"]).collect()

    def warm_unit(self, spark) -> None:
        self._pass(spark, self.warm, os.path.join(self.work, "warm_pass"), "etl-warm")

    def _daily_oracle(self):
        """DuckDB recompute of the `daily` artifact straight from the CSVs,
        with revision rows winning per (symbol, open_time)."""
        import duckdb

        def src(g: str, prio: int) -> str:
            return (f"SELECT {prio} AS prio, regexp_extract(filename, 'klines_([A-Z0-9]+)_', 1)"
                    f" AS symbol, * FROM read_csv('{g}', all_varchar=true, filename=true)")

        sql = f"""
        WITH raw AS ({src(self.inp['base_glob'], 0)} UNION ALL
                     {src(self.inp['revision_glob'], 1)}),
        parsed AS (
          SELECT symbol, prio,
                 CASE WHEN TRY_CAST(open_time AS BIGINT) > 10000000000
                      THEN make_timestamp(TRY_CAST(open_time AS BIGINT) * 1000)
                      ELSE TRY_CAST(open_time AS TIMESTAMP) END AS ts,
                 (CAST(high AS DOUBLE) + CAST(low AS DOUBLE) + CAST(close AS DOUBLE)) / 3.0 AS tp
          FROM raw),
        latest AS (SELECT * FROM parsed
                   QUALIFY row_number() OVER (PARTITION BY symbol, ts ORDER BY prio DESC) = 1)
        SELECT CAST(ts AS DATE) AS date,
               CAST(SUM(CAST(tp AS DECIMAL(18, 6))) AS DOUBLE) / COUNT(*) AS avg_value,
               CAST(SUM(CAST(tp AS DECIMAL(18, 6))) AS DOUBLE) AS sum_value,
               MAX(tp) AS max_value, COUNT(*) AS n_rows
        FROM latest GROUP BY 1"""
        con = duckdb.connect()
        try:
            res = con.execute(sql)
            return [d[0] for d in res.description], res.fetchall()
        finally:
            con.close()

    def _pass(self, spark, inp: dict, pdir: str, req: str) -> dict:
        from kp_crypto_market_analytics_spark.analytics import pipeline
        from kp_crypto_market_analytics_spark.schemas import CANDLES_KEY
        from kp_crypto_market_analytics_spark.sinks import artifacts, figures, report, upsert
        from kp_crypto_market_analytics_spark.sources import files

        tr = self.ctx.tracer
        table, arts_dir = os.path.join(pdir, "candles"), os.path.join(pdir, "artifacts")
        os.makedirs(arts_dir)
        out = {"ops": [], "layer": {}, "table": table, "arts_dir": arts_dir}
        layer = out["layer"]

        tagged = []

        def op(name: str, fn, **attrs) -> float:
            tag = f"{req}-{name}"
            self.group(spark, tag)
            with tr.span(name, request=req, **attrs) as rec:
                fn()
            out["ops"].append((name, rec["dur"]))
            tagged.append((tag, rec))
            return rec["dur"]

        def load(g: str) -> None:
            with tr.span("sources.files.read_klines_csv") as rd:
                df = files.read_klines_csv(spark, g)
            layer["sources.files.read_s"] = layer.get("sources.files.read_s", 0) + rd["dur"]
            upsert.merge_into(spark, table, df, CANDLES_KEY)

        t0 = time.perf_counter()
        with tr.span("etl.pass", request=req):
            op("load_base", lambda: load(inp["base_glob"]))
            op("load_revision", lambda: load(inp["revision_glob"]))
            with tr.span("analytics.pipeline", request=req):
                feats = pipeline.add_features(spark.read.parquet(table))
                arts = pipeline.analytics_fanout(feats)
            layer["sinks.artifacts.write_s"] = sum(
                op(f"artifact_{name}", lambda adf=adf, name=name:
                   artifacts.write_csv_artifact(adf, os.path.join(arts_dir, name)),
                   artifact=name)
                for name, adf in arts.items())
            layer["sinks.figures.render_s"] = op("figures", lambda: figures.write_figures(
                arts, os.path.join(arts_dir, "figures"), features=feats))
            layer["sinks.report.write_s"] = op("report", lambda: report.write_report(arts_dir))
            feats.unpersist()
        out["wall"] = time.perf_counter() - t0
        for tag, rec in tagged if tr.enabled else ():  # engine counters, after the pass
            rec["counters"] = self.counters(tag, rec["dur"])
            for k, v in rec["counters"].items():
                layer[k] = layer.get(k, 0) + v
        return out

    def unit(self, spark, i: int) -> dict:
        res = self._pass(spark, self.inp, os.path.join(self.work, f"pass_{i}"), f"etl-{i}")
        rows = self.inp["base_rows"] + self.inp["revision_rows"]
        layer = res["layer"]
        if self.ctx.tracer.enabled:
            layer.update(self.ctx.upsert_counters(self.input_bytes))
            layer["sources.files.rows"] = rows
        failed = self.check(res["table"], res["arts_dir"])
        return {"wall": res["wall"], "ops": res["ops"], "rows": rows, "failed": failed,
                "layer": layer}

    def check(self, table: str, arts_dir: str) -> int:
        """Table = expected last-write-wins rows; `daily` = DuckDB recompute."""
        import duckdb
        import pyarrow.parquet as pq

        failed = 0
        got = pq.read_table(table).to_pandas()
        exp = self.inp["expected"]
        keys = list(zip(got["symbol"], got["open_time"].astype("datetime64[ms]").astype("int64")))
        ok = len(got) == len(exp) and len(set(keys)) == len(keys)
        cols = ["open", "high", "low", "close", "volume", "num_trades"]
        vals = got[cols].itertuples(index=False, name=None)
        # Every row equals the generator's last write, so each revised key
        # carries its revision values.
        ok = ok and all(exp.get((s, int(t))) == tuple(v) for (s, t), v in zip(keys, vals))
        if not ok:
            print("perfbench: etl table check failed", file=sys.stderr)
            failed += 1
        con = duckdb.connect()
        try:
            res = con.execute(f"SELECT * FROM read_csv('{arts_dir}/daily/part-*.csv', header=true)")
            got_cols, got_rows = [d[0] for d in res.description], res.fetchall()
        finally:
            con.close()
        issues, _ = self.ctx.compare(got_rows, self.daily_oracle[1], got_cols, self.daily_oracle[0])
        if issues:
            print(f"perfbench: etl daily check failed: {issues[:3]}", file=sys.stderr)
            failed += 1
        return failed


class IngestStream(Workload):
    """File source → start_candle_stream → foreachBatch upsert, one file
    dropped per micro-batch, the candle table read after each batch."""

    name = "ingest_stream"
    modules = ("kp_crypto_market_analytics_spark.streaming.candles",)

    def prepare(self) -> None:
        self.tape = gen.trade_tape(os.path.join(self.work, "tape"), self.ctx.seed,
                                   n_files=INGEST_FILES)
        self.warm = gen.trade_tape(os.path.join(self.work, "warm"), 0, n_files=2)
        self.tape_bytes = sum(os.path.getsize(p) for p in self.tape["files"])

    def _trades(self, spark, frame):
        from pyspark.sql import functions as F

        return frame.select("symbol", "trade_id", "price", "qty",
                            F.timestamp_millis("ts_ms").alias("trade_time"))

    def _schema(self):
        return "symbol STRING, trade_id LONG, price DOUBLE, qty DOUBLE, ts_ms LONG"

    def warmup(self, spark) -> None:
        from kp_crypto_market_analytics_spark.streaming.candles import candles_from_trades

        batch = spark.read.schema(self._schema()).option("header", True).csv(self.warm["files"][:1])
        candles_from_trades(self._trades(spark, batch)).collect()

    def warm_unit(self, spark) -> None:
        self._replay(spark, self.warm["files"], os.path.join(self.work, "warm_replay"), "ingest-warm")

    def oracle(self, spark) -> None:
        """The batch twin over the whole tape is what the table must hold."""
        from kp_crypto_market_analytics_spark.streaming.candles import candles_from_trades

        tape = spark.read.schema(self._schema()).option("header", True).csv(self.tape["files"])
        df = candles_from_trades(self._trades(spark, tape))
        self.expected = (df.columns, [tuple(r) for r in df.collect()])

    def _replay(self, spark, files: list[str], rdir: str, req: str) -> dict:
        """Start a fresh stream, drop the files one per micro-batch, read
        the table after each; returns latencies and the stream's progress."""
        from kp_crypto_market_analytics_spark.streaming.candles import start_candle_stream

        tr = self.ctx.tracer
        src, table, ckpt = (os.path.join(rdir, d) for d in ("src", "candles", "checkpoint"))
        os.makedirs(src)
        out = {"ops": [], "reads": [], "table": table, "epoch0": time.time()}
        seen = 0
        t0 = time.perf_counter()
        with tr.span("ingest.replay", request=req):
            stream = (spark.readStream.schema(self._schema()).option("header", True)
                      .option("maxFilesPerTrigger", 1).csv(src))
            with tr.span("streaming.start_candle_stream"):
                q = start_candle_stream(self._trades(spark, stream), table, ckpt)
            try:
                for k, path in enumerate(files):
                    dst = os.path.join(src, os.path.basename(path))
                    shutil.copyfile(path, dst + ".tmp")
                    with tr.span("streaming.micro_batch", request=f"{req}-{k}") as b:
                        os.rename(dst + ".tmp", dst)
                        q.processAllAvailable()
                    out["ops"].append(("micro_batch", b["dur"]))
                    if tr.enabled:  # this batch's triggers, as Spark reported them
                        progress = q.recentProgress
                        mine, seen = progress[seen:], len(progress)
                        b["counters"] = {"triggers": len(mine), "input_rows": sum(
                            _progress_dict(p).get("numInputRows", 0) for p in mine)}
                    with tr.span("ingest.read_table", request=f"{req}-{k}") as r:
                        spark.read.parquet(table).collect()
                    out["reads"].append(r["dur"])
                out["wall"] = time.perf_counter() - t0
                out["progress"] = [_progress_dict(p) for p in q.recentProgress]
            finally:
                q.stop()
        return out

    def unit(self, spark, i: int) -> dict:
        res = self._replay(spark, self.tape["files"], os.path.join(self.work, f"replay_{i}"),
                           f"ingest-{i}")
        layer = {}
        if self.ctx.tracer.enabled:
            layer = self.ctx.probe.window_counters(res["epoch0"], time.time(), res["wall"])
            progress = res["progress"]
            states = [s for p in progress for s in p.get("stateOperators", [])]
            dur = [p.get("durationMs", {}) for p in progress]
            layer.update({
                "streaming.triggers": len(progress),
                "streaming.input_rows": sum(p.get("numInputRows", 0) for p in progress),
                "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
                "streaming.planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1e3,
                "streaming.wal_commit_s": sum(d.get("walCommit", 0) for d in dur) / 1e3,
                "streaming.state_rows": states[-1].get("numRowsTotal", 0) if states else 0,
                "streaming.rows_dropped_by_watermark":
                    sum(s.get("numRowsDroppedByWatermark", 0) for s in states),
                "ingest.read_s": sum(res["reads"]),
            })
            layer.update(self.ctx.upsert_counters(self.tape_bytes))
        failed = self.check(spark, res["table"])
        return {"wall": res["wall"], "ops": res["ops"], "rows": self.tape["rows"],
                "failed": failed, "layer": layer, "reads": res["reads"]}

    def check(self, spark, table: str) -> int:
        df = spark.read.parquet(table)
        rows = [tuple(r) for r in df.collect()]
        issues, _ = self.ctx.compare(rows, self.expected[1], df.columns, self.expected[0])
        if issues:
            print(f"perfbench: ingest table check failed: {issues[:3]}", file=sys.stderr)
            return 1
        return 0


def _progress_dict(p) -> dict:
    return p if isinstance(p, dict) else json.loads(p.json)


class Registry(Workload):
    """A frozen, family-spanning list of registry queries, collected in a
    seed-permuted order, each checked against its DuckDB oracle."""

    name = "registry"
    modules = ("kp_crypto_market_analytics_spark.queries",)

    def prepare(self) -> None:
        from kp_crypto_market_analytics_spark.queries import ORACLES, QUERIES

        self.tables = os.path.join(self.work, "tables")
        gen.registry_tables(self.tables, seed=42, sf=REGISTRY_SF)
        self.names = REGISTRY_FLOOR + REGISTRY_HEAVY
        self.queries = {n: QUERIES[n] for n in self.names}
        self.rng = random.Random(self.ctx.seed)
        con = self.ctx.duck_connection(self.tables)
        self.expected = {}
        try:
            for n in self.names:
                res = con.execute(ORACLES[n])
                self.expected[n] = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()

    def register(self, spark) -> None:
        from kp_crypto_market_analytics_spark.session import load_tables

        load_tables(spark, self.tables)

    def warmup(self, spark) -> None:
        self.queries["q1_pricing_summary"](spark, self.tables).collect()

    def warm_unit(self, spark) -> None:
        for name in self.names:
            self.queries[name](spark, self.tables).collect()

    def unit(self, spark, i: int) -> dict:
        from kp_crypto_market_analytics_spark.operators.materialize import (
            clear_session_materializations,
        )

        tr = self.ctx.tracer
        clear_session_materializations(spark)
        order = list(self.names)
        self.rng.shuffle(order)
        ops, layer, results = [], {}, []
        wall, rows_out = 0.0, 0
        for k, name in enumerate(order):
            req = f"registry-{i}-{k}-{name}"
            self.group(spark, req)
            with tr.span("queries.query", request=req, query=name) as qs:
                with tr.span("queries.build") as b:
                    df = self.queries[name](spark, self.tables)
                with tr.span("queries.action") as a:
                    rows = df.collect()
            wall += qs["dur"]
            ops.append((name, qs["dur"]))
            rows_out += len(rows)
            results.append((name, df.columns, [tuple(r) for r in rows]))
            if tr.enabled:
                c = self.counters(req, qs["dur"])
                c.update({"queries.build_s": b["dur"], "queries.action_s": a["dur"],
                          "queries.planning_s": planning_seconds(df)})
                qs["counters"] = c
                for k, v in c.items():
                    layer[k] = layer.get(k, 0) + v
        if tr.enabled:
            layer.update(self.ctx.materialize_counters())
        failed = 0
        for name, cols, rows in results:
            issues, _ = self.ctx.compare(rows, self.expected[name][1], cols, self.expected[name][0])
            if issues:
                print(f"perfbench: {name} oracle check failed: {issues[:3]}", file=sys.stderr)
                failed += 1
        return {"wall": wall, "ops": ops, "rows": rows_out, "failed": failed, "layer": layer}


WORKLOADS = {w.name: w for w in (EtlBatch, IngestStream, Registry)}
