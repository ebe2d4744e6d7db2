"""Benchmark of the engine as a cron-run batch job.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One invocation is one fresh Python + JVM
process on local[<cores>] driven by a single closed-loop client (one
operation in flight): set-up, then one cold pass, then warm passes in
the same process (every program cache kept), at least one and more
until ``--seconds`` of passes (cold included) have been measured, then
output checks against DuckDB outside the timed passes. Inputs are
generated from ``--seed`` under ``.bench_work/`` and removed at exit;
a detail file with provenance, per-operation times and (traced) spans
goes to ``.bench_out/``.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}`` with the end-to-end metrics (``--trace 0``) or
the per-layer metrics of the traced run (``--trace 1``).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import gen
import procfs
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "youtube_etl_automated_pipeline_spark")

TPCH = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_late_ship_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "q9_profit_by_nation_year",
    "q10_returned_items", "q12_priority_by_returnflag", "q13_order_count_distribution",
    "q14_promo_revenue_share", "q18_large_volume_customers", "q19_or_predicate_revenue",
]
DEDUP = [
    "dedup_minhash_lsh", "dedup_minhash_clusters", "dedup_minhash_precision",
    "dedup_embedding_cosine", "knn_label_confusion",
]
STREAM = [
    "streaming_tumbling_window", "streaming_stream_stream_join", "streaming_tws_user_peaks",
    "streaming_dedup_ids",
]
WORKLOADS = ("etl_batch", "tpch_adhoc", "dedup_kernels", "stream_state")

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "warm_wall_s": "s", "op_p50_s": "s",
             "fail_ratio": "ratio"}


def process_start_wall() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


class NoTrace:
    """Stand-in for spans.Tracer in untraced runs."""

    def span(self, name):
        return contextlib.nullcontext()


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.traced = args.trace == 1
        self.tracer = NoTrace()
        self.ops: list[dict] = []  # every operation: pass, name, seconds, error
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.passes: list[dict] = []

    # -- set-up ------------------------------------------------------------

    def setup(self, t_start: float) -> float:
        """get_spark, a JVM warm-up query and the registry import."""
        from youtube_etl_automated_pipeline_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        t1 = time.perf_counter()
        self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        from __spark_entry__ import queries

        self.queries = queries()
        setup_s = time.time() - t_start
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["plans.registry_import_s"] = time.perf_counter() - t2
        self.session = session
        return setup_s

    # -- operations ----------------------------------------------------------

    def registry_op(self, name: str):
        spark, tr = self.spark, self.tracer
        with tr.span(spans.BUILD):
            j0 = spans.latest_job_id(spark) if self.traced else 0
            df = self.queries[name](spark, self.data_dir)
            if self.traced:
                tr.counters["plans.build_jobs"] += spans.latest_job_id(spark) - j0
        with tr.span(spans.ACTION):
            df.write.format("noop").mode("overwrite").save()
        return df

    def etl_op(self, batch_dir: str, staging: str, table: str) -> None:
        from youtube_etl_automated_pipeline_spark import pipeline, sinks
        from youtube_etl_automated_pipeline_spark.sources import readers

        spark, dims = self.spark, os.path.join(self.work, "etl", "dims")
        videos = readers.load_table(spark, batch_dir, "videos")
        analytics = readers.load_table(spark, batch_dir, "analytics")
        wide = pipeline.build_wide_fact(
            videos,
            channels=readers.load_table(spark, dims, "channels"),
            resource_names=readers.load_table(spark, dims, "resource_names"),
            shownames=readers.load_table(spark, dims, "shownames"),
            cpm_categories=readers.load_table(spark, dims, "cpm_categories"),
            analytics=analytics,
        )
        sinks.append_table(pipeline.to_sink_projection(wide), staging)
        sinks.flush(spark, staging, table, key="video_id", order_col="ingest_seq")

    def run_pass(self, index: int) -> dict:
        """One pass over the workload's operations; returns its record."""
        wl = self.args.workload
        if self.traced:
            self._pass_begin()
        kept: dict[str, object] = {}
        lat: list[float] = []
        w0, t0 = time.time(), time.perf_counter()
        if wl == "etl_batch":
            table = os.path.join(self.work, f"table_p{index}")
            staging = os.path.join(self.work, f"staging_p{index}")
            if self.traced:
                self.tracer.staging_paths.add(staging)
            for name, bdir in zip(self.op_names, self.batches):
                self._timed(index, name, lat, lambda: self.etl_op(bdir, staging, table))
            kept["table"] = table
        else:
            for name in self.op_names:
                out = self._timed(index, name, lat, lambda: self.registry_op(name))
                if out is not None:
                    kept[name] = out
        t1, w1 = time.perf_counter(), time.time()
        rec = {"pass": index, "wall_s": t1 - t0, "op_s": lat, "kept": kept,
               "t0": t0, "t1": t1, "w0": w0, "w1": w1}
        if self.traced:
            rec["layer"] = self._pass_end(rec)
        return rec

    def _timed(self, index: int, name: str, lat: list, fn):
        t0 = time.perf_counter()
        out, err = None, None
        try:
            with self.tracer.span(f"op:{name}"):
                out = fn()
        except Exception as exc:  # a failing operation is counted, not fatal
            err = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        lat.append(dt)
        self.ops.append({"pass": index, "op": name, "s": round(dt, 4), "error": err})
        if err:
            self.failures.append(f"pass {index} {name}: {err}")
        return out

    # -- traced-run bookkeeping ---------------------------------------------

    def _pass_begin(self) -> None:
        self.listener.drain(quiet_s=0.05, limit_s=0.2)
        self.tracer.counters.clear()
        self._stage0 = spans.latest_stage_id(self.spark)
        self._job0 = spans.latest_job_id(self.spark)
        self._cpu0 = procfs.python_worker_cpu_s(self.jvm_pid)

    def _pass_end(self, rec: dict) -> dict[str, float]:
        from youtube_etl_automated_pipeline_spark.operators import cache_registry

        m: dict[str, float] = {}
        m["ext.python_worker_cpu_s"] = procfs.python_worker_cpu_s(self.jvm_pid) - self._cpu0
        m.update(spans.spark_pass_metrics(self.spark, self._stage0, self._job0,
                                          rec["w0"] * 1e3, rec["w1"] * 1e3))
        m.update(spans.storage_metrics(self.spark))
        m.update(self.listener.drain())
        m["streaming.memory_sinks_live"] = sum(
            1 for t in self.spark.catalog.listTables() if t.isTemporary)
        c = self.tracer.counters
        m["operators.memo.calls"] = c.get("operators.memo.calls", 0.0)
        m["operators.memo.hits"] = c.get("operators.memo.hits", 0.0)
        m["operators.memo.hit_ratio"] = (
            m["operators.memo.hits"] / m["operators.memo.calls"]
            if m["operators.memo.calls"] else 0.0)
        m["operators.memo.live_entries"] = len(cache_registry._REG)
        m["sources.load_table_calls"] = c.get("sources.load_table_calls", 0.0)
        m["plans.build_jobs"] = c.get("plans.build_jobs", 0.0)
        staged = c.get("sinks.staged_bytes", 0.0)
        m["sinks.bytes_written"] = c.get("sinks.bytes_written", 0.0)
        m["sinks.write_amp"] = (m["sinks.bytes_written"] - staged) / staged if staged else 0.0
        table = rec["kept"].get("table")
        m["sinks.table_files"] = sum(
            1 for f in os.listdir(table) if f.endswith(".parquet")
        ) if table and os.path.isdir(table) else 0
        t0, t1 = rec["t0"], rec["t1"]
        totals = self.tracer.totals(t0, t1, [
            "sources.load_table", "plans.build", spans.ACTION, "pipeline.build_wide_fact",
            "pipeline.to_sink_projection", "sinks.append_table", "sinks.dedup_table_swap",
            "sinks.truncate_staging", "sinks.flush"])
        for k, v in totals.items():
            m[f"{k}_s"] = v
        m["plans.action_s"] = m.pop(f"{spans.ACTION}_s")
        self_t = self.tracer.self_times(t0, t1)
        for layer in ("sources", "plans", "pipeline", "operators", "ext", "streaming", "sinks",
                      "spark"):
            m[f"self.{layer}_s"] = self_t.get(layer, 0.0)
        m["trace.coverage"] = self.tracer.coverage(t0, t1)
        m["trace.wall_s"] = rec["wall_s"]
        rec["spans"] = len(self.tracer.window(t0, t1))
        return m

    # -- checks --------------------------------------------------------------

    def check(self) -> dict[str, list[str]]:
        """Compare outputs with DuckDB; returns the mismatches by
        operation: each registry query, and for etl_batch the last batch
        (whose flush leaves the final table, checked after every pass)."""
        import checks

        bad: dict[str, list[str]] = {}
        if self.args.workload == "etl_batch":
            expected = checks.etl_expected(os.path.join(self.work, "etl"))
            for rec in self.passes:
                errs = checks.etl_table_errors(rec["kept"]["table"], expected)
                if errs:
                    bad.setdefault(self.op_names[-1], []).extend(
                        f"pass {rec['pass']} final table: {e}" for e in errs[:5])
            return bad
        from __spark_entry__ import oracle_sql
        from tests.oracle_compare import compare, duckdb_conn

        oracles = oracle_sql()
        last = self.passes[-1]["kept"]
        con = duckdb_conn(self.data_dir)
        try:
            for name in self.op_names:
                if name not in last:
                    continue  # raised in the pass; already counted
                try:
                    errs = compare(last[name], con, oracles[name])
                except Exception as exc:
                    errs = [f"check raised {type(exc).__name__}: {exc}".splitlines()[0][:300]]
                if errs:
                    bad[name] = errs[:3]
        finally:
            con.close()
        return bad


def provenance(run: Run, inputs: dict) -> dict:
    import pyspark

    src = hashlib.sha256()
    for d, subdirs, files in os.walk(PKG_DIR):
        subdirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True).stdout.strip() or None
    return {
        "workload": run.args.workload,
        "seed": run.args.seed,
        "trace": run.args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_cores": run.session.default_parallelism(),
        "pyspark": pyspark.__version__,
        "java": run.spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_commit": commit,
        "source_sha256": src.hexdigest()[:16],
        "tmpfs": run.session._fast_tmp_dir() is not None,
        "inputs": inputs,
    }


def isolate_temp(work: str) -> None:
    """Point every temp location the program and the JVM use inside the
    work directory (no writes outside the checkout)."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "jvmtmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_NO_TMPFS"] = "1"  # tmpfs lives in /dev/shm
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    # the JVM's perf-data file would otherwise go to /tmp/hsperfdata_<user>
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['jvmtmp']} -XX:+PerfDisableSharedMem")
    import tempfile

    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=10)


def main(argv: list[str] | None = None) -> int:
    t_start = process_start_wall()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(PKG_DIR):
        print(f"program sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate_temp(work)

    run = Run(args, work)
    with procfs.PeakRss() as rss:
        try:
            setup_s = run.setup(t_start)
            run.jvm_pid = run.spark.sparkContext._gateway.proc.pid
            t = time.perf_counter()
            run.data_dir = os.path.join(work, "data")
            inputs, phases = {}, {}
            if args.workload == "etl_batch":
                run.batches = gen.write_etl(os.path.join(work, "etl"), args.seed)
                run.op_names = [os.path.basename(b) for b in run.batches]
                inputs["etl"] = gen.digest(os.path.join(work, "etl"))
                inputs["etl_rows"] = gen.ETL_ROWS * gen.ETL_BATCHES
            else:
                gen.write_testdata(run.data_dir, args.seed)
                inputs["data"] = gen.digest(run.data_dir)
                names = {"tpch_adhoc": TPCH, "dedup_kernels": DEDUP, "stream_state": STREAM}
                run.op_names = list(names[args.workload])
                if args.workload == "tpch_adhoc":
                    random.Random(args.seed).shuffle(run.op_names)
            phases["gen_s"] = round(time.perf_counter() - t, 3)

            if run.traced:
                run.tracer = spans.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
                phases["bindings_patched"] = run.tracer.install()
                run.listener = spans.progress_listener()
                run.spark.streams.addListener(run.listener)

            # cold pass: fresh JVM, program caches empty; then warm passes
            # keeping every cache, at least one and more until --seconds
            # of passes are measured
            from youtube_etl_automated_pipeline_spark.operators import cache_registry

            cache_registry.clear()
            run.passes.append(run.run_pass(0))
            measured = run.passes[0]["wall_s"]
            while len(run.passes) < 2 or measured < args.seconds:
                run.passes.append(run.run_pass(len(run.passes)))
                measured += run.passes[-1]["wall_s"]
            if run.traced:
                run.unpatched = run.tracer.unpatched()

            t = time.perf_counter()
            mismatches = run.check()
            phases["check_s"] = round(time.perf_counter() - t, 3)
            prov = provenance(run, inputs)
            prov["phases"] = phases
        finally:
            if hasattr(run, "spark"):
                stop_spark(run.spark)
            shutil.rmtree(work, ignore_errors=True)
    peak_mb = rss.peak / 2**20

    # attempted / failed count operations, not executions: an operation
    # fails if it raised in any pass or its output check failed
    cold, warm = run.passes[0], run.passes[1:]
    attempted = len(run.op_names)
    failed = len({o["op"] for o in run.ops if o["error"]} | set(mismatches))
    failures = run.failures + [f"check {k}: {'; '.join(v)}" for k, v in mismatches.items()]
    for line in failures:
        print(f"FAILED {line}")
    e2e = {
        "setup_s": setup_s,
        "wall_s": cold["wall_s"],
        "warm_wall_s": statistics.median(r["wall_s"] for r in warm),
        "op_p50_s": statistics.median(cold["op_s"]),
        # add-one smoothed so the ratio is never 0: (failed + 1) / (attempted + 1)
        "fail_ratio": (failed + 1) / (attempted + 1),
    }
    detail = {"provenance": prov, "end_to_end": e2e, "peak_rss_mb": peak_mb, "ops": run.ops,
              "failures": failures}
    print(f"# {args.workload} peak_rss_mb = {peak_mb:.6g} MB (driver JVM + Python processes)")
    if run.traced:
        layer = dict(run.layer)
        layer["process.peak_rss_mb"] = peak_mb
        layer["trace.unpatched_bindings"] = len(run.unpatched)
        for where in run.unpatched:
            print(f"FLAG unwrapped layer function bound at {where}")
        layer.update(cold["layer"])
        for k in ("operators.memo.hits", "operators.memo.hit_ratio",
                  "operators.memo.live_entries", "spark.persisted_rdds",
                  "streaming.memory_sinks_live", "spark.cached_bytes", "trace.coverage"):
            layer[f"warm.{k}"] = warm[-1]["layer"][k]
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layer.items())}
        detail["layer_by_pass"] = [r["layer"] for r in run.passes]
        detail["spans_by_pass"] = [r["spans"] for r in run.passes]
        detail["run_id"] = run.tracer.run_id
        detail["spans"] = run.tracer.spans  # (id, parent id, name, start, end)
        if layer["trace.coverage"] < 0.9:
            print(f"FLAG spans cover {layer['trace.coverage']:.1%} of wall_s (< 90%)")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print("# provenance " + json.dumps(prov, sort_keys=True))
    for k, v in metrics.items():
        print(f"# {args.workload} {k} = {v['value']:.6g} {v['unit']}")
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "coverage", "amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
