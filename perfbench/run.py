"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout.  Builds the workload's inputs from
the seed, starts a local Spark session on every CPU in a fresh driver JVM
and sets it up (timed: the cold set-up a user pays once per process), runs
the unit's calls once untimed on inputs from seed 0, then runs units in a
closed loop for ``--seconds`` (at least one), checking every output.  With
``--trace 1`` untraced and traced units alternate.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones).  The
full record, with the environment and per-operation detail, goes to
``.perfbench_work/<workload>-s<seed>-t<trace>/result.json``; a traced run
also writes its spans there as ``trace.jsonl``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "kp_crypto_market_analytics_spark"
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s"}
COUNT_UNITS = ("spark.jobs", "spark.stages", "spark.tasks", "sources.files.rows",
               "sinks.upsert.calls", "sinks.upsert.files_written", "streaming.triggers",
               "streaming.input_rows", "streaming.state_rows",
               "streaming.rows_dropped_by_watermark", "operators.materialize.requests",
               "operators.materialize.builds")
PER_LAYER = [
    "session.import_s", "session.start_s", "session.warmup_s", "session.peak_rss_mb",
    "sources.files.read_s", "sources.files.rows",
    "sinks.upsert.merge_s", "sinks.upsert.calls", "sinks.upsert.bytes_written",
    "sinks.upsert.write_amp", "sinks.upsert.files_written",
    "sinks.artifacts.write_s", "sinks.figures.render_s", "sinks.report.write_s",
    "queries.build_s", "queries.planning_s", "queries.action_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "python_workers.exec_s",
    "operators.materialize.requests", "operators.materialize.builds",
    "operators.materialize.hit_rate",
    "streaming.triggers", "streaming.input_rows", "streaming.add_batch_s",
    "streaming.planning_s", "streaming.wal_commit_s", "streaming.state_rows",
    "streaming.rows_dropped_by_watermark", "ingest.read_s",
    "ops.p50_s", "ops.tail_s", "trace.wall_s", "trace.overhead_s",
]


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name in COUNT_UNITS:
        return "count"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_rate") or name.endswith("_amp"):
        return "ratio"
    return "s"


def p90(values: list[float]) -> tuple[float, int]:
    """Nearest-rank 90th percentile and the sample count.  A timed unit
    holds 6-11 operations, too few for a percentile with ten samples beyond
    it, so the operation tail is p90 with its sample count recorded."""
    xs = sorted(values)
    return xs[max(math.ceil(0.9 * len(xs)) - 1, 0)], len(xs)


class Context:
    """What the workloads share: seed, work dir, tracer, probes, checks."""

    def __init__(self, seed: int, work: str, tracer, verify):
        self.seed, self.work, self.tracer = seed, work, tracer
        self.compare = verify.compare
        self.duck_connection = verify.duck_connection
        self.probe = None
        self._upsert = {"calls": 0, "merge_s": 0.0, "bytes": 0, "files": 0}
        self._mat = {"requests": 0, "builds": 0}

    def install_wrappers(self) -> list:
        """Count calls into the upsert and materialize layers (traced runs).
        Returns the callables that put the originals back."""
        import kp_crypto_market_analytics_spark.operators.materialize as mat
        import kp_crypto_market_analytics_spark.sinks.upsert as upsert
        from workloads import _dir_bytes

        orig_merge, orig_mat = upsert.merge_into, mat.session_materialized

        def merge_into(spark, target_path, *args, **kwargs):
            with self.tracer.span("sinks.upsert.merge_into") as rec:
                orig_merge(spark, target_path, *args, **kwargs)
            nbytes, nfiles = _dir_bytes(target_path)  # the merge rewrote the table
            u = self._upsert
            u["calls"], u["merge_s"] = u["calls"] + 1, u["merge_s"] + rec["dur"]
            u["bytes"], u["files"] = u["bytes"] + nbytes, u["files"] + nfiles

        def session_materialized(spark, key, build):
            built = key not in (getattr(spark, mat._CACHE_ATTR, None) or {})
            self._mat["requests"] += 1
            self._mat["builds"] += int(built)
            with self.tracer.span("operators.materialize", key=key, build=built):
                return orig_mat(spark, key, build)

        upsert.merge_into = merge_into
        undo = [lambda: setattr(upsert, "merge_into", orig_merge)]
        # Query modules bind the function by name at import time.
        for mod in [m for n, m in sys.modules.items() if n.startswith(PKG) and m]:
            if getattr(mod, "session_materialized", None) is orig_mat:
                mod.session_materialized = session_materialized
                undo.append(lambda mod=mod: setattr(mod, "session_materialized", orig_mat))
        return undo

    def upsert_counters(self, input_bytes: int) -> dict:
        u, self._upsert = self._upsert, {"calls": 0, "merge_s": 0.0, "bytes": 0, "files": 0}
        return {"sinks.upsert.calls": u["calls"], "sinks.upsert.merge_s": u["merge_s"],
                "sinks.upsert.bytes_written": u["bytes"], "sinks.upsert.files_written": u["files"],
                "sinks.upsert.write_amp": u["bytes"] / input_bytes}

    def materialize_counters(self) -> dict:
        m, self._mat = self._mat, {"requests": 0, "builds": 0}
        hits = m["requests"] - m["builds"]
        return {"operators.materialize.requests": m["requests"],
                "operators.materialize.builds": m["builds"],
                "operators.materialize.hit_rate": hits / m["requests"] if m["requests"] else 0.0}


def _load_verify():
    path = os.path.join(ROOT, "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("perfbench_verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _pin_environment(work: str) -> dict:
    """Everything the run depends on goes inside the checkout, and Spark
    gets every CPU of this machine.  BLAS threading is recorded as found."""
    nproc = len(os.sched_getaffinity(0))
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Every JVM (the launcher's too) keeps temp files inside the run
        # directory; no perf-data file under the system temp dir.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    blas = {k: os.environ.get(k) for k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                                            "MKL_NUM_THREADS")}
    return {"nproc": nproc, "driver_memory": DRIVER_MEM, "blas_threads_env": blas,
            "python": platform.python_version(), "platform": platform.platform()}


def _spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "20000",
    }


def _setup(wl, work: str) -> tuple:
    """Start the session, register the workload's tables and run its fixed
    warm-up pass, in this process's first driver JVM; returns the live
    session and the phase times."""
    from kp_crypto_market_analytics_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", extra_conf=_spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    wl.register(spark)
    wl.warmup(spark)
    t2 = time.perf_counter()
    return spark, {"start": t1 - t0, "warmup": t2 - t1, "total": t2 - t0}


def _unit(wl, spark) -> dict:
    """One unit; one that raises counts as one failed operation."""
    try:
        return wl.unit(spark, wl.next_unit)
    except Exception:
        print(f"perfbench: {wl.name} unit {wl.next_unit} failed\n{traceback.format_exc()}",
              file=sys.stderr)
        return {"error": True, "ops": [], "failed": 1, "rows": 0, "layer": {}}
    finally:
        wl.next_unit += 1


def _traced_unit(ctx, wl, spark) -> dict:
    """One unit with spans, job groups and the layer wrappers on."""
    undo = ctx.install_wrappers()
    ctx.tracer.enabled = True
    try:
        return _unit(wl, spark)
    finally:
        ctx.tracer.enabled = False
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        for u in undo:
            u()


def _run_units(ctx, wl, spark, seconds: float, trace: bool) -> tuple[list, list]:
    """Run rounds until ``seconds`` have passed.  Untraced, a round is one
    unit and at least one runs.  Traced, a round is an untraced and a
    traced unit, in alternating order (AB, BA, ...), and at least two run,
    so warm-up drift cancels out of their paired difference.  Three failed
    units end the loop.  Returns (untraced units, traced units)."""
    plain: list[dict] = []
    traced: list[dict] = []
    rounds, t0 = 0, time.perf_counter()
    while rounds < 1 + trace or time.perf_counter() - t0 < seconds:
        kinds = ((False, True) if rounds % 2 == 0 else (True, False)) if trace else (False,)
        for kind in kinds:
            if kind:
                traced.append(_traced_unit(ctx, wl, spark))
            else:
                plain.append(_unit(wl, spark))
        rounds += 1
        if sum(bool(u.get("error")) for u in plain + traced) >= 3:
            break
    return plain, traced


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG} package beside {HERE}; run from a source checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _pin_environment(work)
    sys.path[:0] = [HERE, ROOT]

    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # The program's modules this workload calls, imported once in this
    # fresh interpreter: a per-layer figure, not part of setup_s.
    t = time.perf_counter()
    for mod in (PKG,) + WORKLOADS[args.workload].modules:
        importlib.import_module(mod)
    import_s = time.perf_counter() - t
    if not os.path.abspath(sys.modules[PKG].__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {PKG} imported from outside the checkout", file=sys.stderr)
        return 2
    tracer = tracing.Tracer(enabled=False)
    ctx = Context(args.seed, work, tracer, _load_verify())
    wl = WORKLOADS[args.workload](ctx)
    phases = {}
    t = time.perf_counter()
    wl.prepare()
    phases["prepare_s"] = time.perf_counter() - t
    spark, setup = _setup(wl, work)
    try:
        t = time.perf_counter()
        wl.oracle(spark)
        phases["oracle_s"] = time.perf_counter() - t
        import pyspark

        env.update(spark=pyspark.__version__,
                   java=spark.sparkContext._jvm.System.getProperty("java.version"),
                   master=spark.sparkContext.master)
        t = time.perf_counter()
        wl.warm_unit(spark)
        phases["warm_unit_s"] = time.perf_counter() - t
        if args.trace:
            ctx.probe = tracing.SparkProbe(spark)
        t = time.perf_counter()
        plain, traced = _run_units(ctx, wl, spark, args.seconds, bool(args.trace))
        phases["timed_s"] = time.perf_counter() - t
        units = plain + traced
        peak_rss = tracing.jvm_peak_rss_mb(spark)
    finally:
        t = time.perf_counter()
        _shutdown(spark)
        phases["shutdown_s"] = time.perf_counter() - t

    good = [u for u in plain if not u.get("error")]
    ops = [d for u in good for _, d in u["ops"]]
    failed = sum(u["failed"] for u in units)
    attempted = sum(len(u["ops"]) + bool(u.get("error")) for u in units)
    result = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "env": env, "setup": setup, "phases": phases,
              "units": [{k: v for k, v in u.items() if k != "layer"} for u in units]}
    metrics: dict[str, dict] = {}
    if good:
        t_val, t_n = p90(ops)
        e2e = {
            "setup_s": setup["total"],
            "wall_s": statistics.median(u["wall"] for u in good),
            "rows_per_s": sum(u["rows"] for u in good) / sum(u["wall"] for u in good),
        }
        result.update(end_to_end=e2e, ops={"p50_s": statistics.median(ops), "p90_s": t_val,
                                           "samples": t_n})
        if args.trace:
            tgood = [u for u in traced if not u.get("error")]
            layer = {k: 0 for k in PER_LAYER}
            for k in {k for u in tgood for k in u["layer"]}:
                mid = statistics.median_low if layer_unit(k) == "count" else statistics.median
                layer[k] = mid(u["layer"].get(k, 0) for u in tgood)
            layer.update({
                "session.import_s": import_s,
                "session.start_s": setup["start"],
                "session.warmup_s": setup["warmup"],
                "session.peak_rss_mb": peak_rss,
                "ops.p50_s": result["ops"]["p50_s"],
                "ops.tail_s": result["ops"]["p90_s"],
            })
            pairs = [(p, t) for p, t in zip(plain, traced)
                     if not p.get("error") and not t.get("error")]
            if pairs:  # each traced unit against the untraced one of its round
                layer["trace.wall_s"] = statistics.median(t["wall"] for _, t in pairs)
                layer["trace.overhead_s"] = statistics.median(t["wall"] - p["wall"]
                                                              for p, t in pairs)
            result["per_layer"] = layer
            metrics = {k: {"value": layer[k], "unit": layer_unit(k)} for k in PER_LAYER}
            tracer.write_jsonl(os.path.join(work, "trace.jsonl"))
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = failed == 0 and not any(u.get("error") for u in units)
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    for entry in os.scandir(work):  # keep the record, drop inputs and tables
        if entry.is_dir():
            shutil.rmtree(entry.path, ignore_errors=True)
    if not metrics:
        print("perfbench: every unit failed; no metrics", file=sys.stderr)
        return 1
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={env['nproc']} spark={env['spark']} java={env['java']} "
          f"python={env['python']} ops={result['ops']['samples']} "
          f"detail={os.path.relpath(work, ROOT)}/result.json")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
