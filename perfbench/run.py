"""The repository's benchmark: one workload, end to end and layer by layer.

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs (once per
checkout, under ``.perfbench/``), starts a local SparkSession on every
core, runs the workload as one closed-loop client, checks every output,
and prints as the last line of stdout one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before
it (``{"perfbench": ...}``) records the seed, sample counts, check
results and the tracing overhead.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
workload untraced, then restarts the SparkContext with Spark's
uncompressed event log on, re-runs the timed passes, and reports the
per-layer metrics (spans are written to ``.perfbench/traces/``).
BENCHMARK.json documents the workloads, metrics and the layer → metric
→ workload predictions.

Everything a run writes stays under ``.perfbench/`` in the checkout: Spark's
local and temp directories, the embedded Derby database, the copy
targets, and the engine's persisted indexes (whose root the run points
into its own directory). The run removes its directory before it exits.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
#: every run must end well inside 180 s
DEADLINE_S = 170
TAIL_PERCENTILE = 90

sys.path.insert(0, HERE)
import datagen  # noqa: E402
import layers  # noqa: E402
import workloads as W  # noqa: E402


def load_check_module():
    """tools/check.py, imported unedited for its canon; it also imports the engine."""
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("perfbench_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def ensure_data() -> str:
    dest = os.path.join(STATE, f"data-v{datagen.VERSION}")
    if not os.path.isdir(dest):
        tmp = f"{dest}.tmp{os.getpid()}"
        datagen.write(tmp)
        os.rename(tmp, dest)
    return dest


def sandbox(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    java = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java)} "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )


def redirect_engine_artifacts(root: str) -> None:
    """The persisted IVF/BM25 indexes go to per-call directories under a
    fixed /tmp root; keep them inside the run's own directory."""
    from copy_databasetables_spark.operators import similarity

    index_path = similarity._ivf_index_path

    def _in_sandbox(sf_dir, base="/tmp/spark_graft_ivf_index"):
        return index_path(sf_dir, base=os.path.join(root, os.path.basename(base)))

    similarity._ivf_index_path = _in_sandbox


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_jvm() -> None:
    """Stop Spark, end the gateway JVM and its Python workers, and wait for all of them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    procs = descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 10
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def restart(spark, eventlog_dir: str | None):
    """Stop ``spark`` and start a fresh SparkContext in the same JVM,
    with Spark's uncompressed event log written to ``eventlog_dir``, or
    without one. Its Python worker daemon is started before returning."""
    from copy_databasetables_spark import get_spark

    jvm = spark._jvm
    spark.stop()
    props = {"spark.eventLog.enabled": "false"}
    if eventlog_dir:
        props = {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.dir": f"file://{eventlog_dir}"}
    for k, v in props.items():
        jvm.java.lang.System.setProperty(k, v)
    spark = get_spark("perfbench")
    spark.range(4).mapInPandas(lambda it: it, "id long").collect()
    return spark


class Phase:
    """One phase of a run: cache inputs, optionally a warm-up pass that
    checks every output, then the timed passes."""

    def __init__(self, ctx: dict, spark, traced: bool):
        self.ctx, self.spark, self.traced = ctx, spark, traced
        self.tr = layers.Tracer(spark)
        self.ops: list[dict] = []
        self.problems: list[str] = []
        self.bad_queries: set[str] = set()
        self.freed = {"rdds": 0, "blocks": 0}
        self.copy_rows = 0

    # -- operations -------------------------------------------------------

    def _op(self, name: str, kind: str, fn) -> bool:
        ok = True
        try:
            with self.tr.span(name, op=len(self.ops)) as rec:
                ok = fn() is not False
        except Exception:
            ok = False
            traceback.print_exc(file=sys.stderr)
        self.ops.append({"name": name, "kind": kind, "s": rec["s"], "ok": ok})
        return ok

    def query(self, name: str, check: bool) -> None:
        from copy_databasetables_spark.operators._helpers import free_ckpts

        out = {}

        def run():
            with self.tr.span("build", layer="operators.build"):
                df = self.ctx["queries"][name](self.spark, self.ctx["data"])
            with self.tr.span("execute", layer="operators.execute"):
                if check:
                    out["pdf"] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()

        ok = self._op(name, "query", run)
        if self.traced:
            self.freed["blocks"] += layers.ckpt_blocks(self.spark.sparkContext)
        with self.tr.span("free_ckpts", layer="ckpt"):
            self.freed["rdds"] += free_ckpts(self.spark)
        if check:
            why = (
                W.check_query(name, out["pdf"], self.ctx["expected"], self.ctx["normalize"])
                if ok else "raised"
            )
            if why:
                self.bad_queries.add(name)
                self.problems.append(f"{name}: {why}")

    def copy_pass(self, tables: list[str]) -> None:
        from copy_databasetables_spark.copy.engine import cdc_apply_table, copy_table
        from copy_databasetables_spark.io import load_table
        from copy_databasetables_spark.sources.jdbc import JdbcReadSpec, JdbcWriteSpec

        c, spark = self.ctx, self.spark
        for t in tables:
            def copy(t=t):
                with self.tr.span("copy_table", layer="copy.table"):
                    res = copy_table(spark, c["data"], t, os.path.join(c["target"], t),
                                     verify_checksum=True)
                self.copy_rows += res.rows_copied
            self._op(f"copy:{t}", "copy", copy)
        c["stored_bytes"] = sum(W.dir_bytes(os.path.join(c["target"], t)) for t in W.COPY_TABLES)

        def cdc():
            with self.tr.span("cdc_apply_table", layer="copy.cdc"):
                res = cdc_apply_table(spark, c["cdc_log"], "orders",
                                      os.path.join(c["target"], "orders"), key="o_orderkey")
            if res.rows_copied != c["cdc_expected"]:
                self.problems.append(f"cdc: {res.rows_copied} rows, DuckDB counts {c['cdc_expected']}")
                return False
        self._op("cdc_apply", "cdc", cdc)

        src = load_table(spark, c["data"], "orders").select(*W.JDBC_COLUMNS)

        def write():
            with self.tr.span("JdbcWriteSpec.save", layer="jdbc.write"):
                JdbcWriteSpec(url=c["jdbc_url"], table="orders_rt", mode="overwrite",
                              num_partitions=4).save(src)
        self._op("jdbc_write", "jdbc", write)

        def read():
            with self.tr.span("JdbcReadSpec.load", layer="jdbc.read"):
                back = JdbcReadSpec(url=c["jdbc_url"], table="orders_rt",
                                    partition_column="o_orderkey", lower_bound=0,
                                    upper_bound=c["n_orders"], num_partitions=4).load(spark)
                back.write.format("noop").mode("overwrite").save()
        self._op("jdbc_read", "jdbc", read)

    def jdbc_check(self) -> None:
        """The Derby read-back must hash like its parquet source."""
        from copy_databasetables_spark.copy.engine import content_checksum
        from copy_databasetables_spark.io import load_table
        from copy_databasetables_spark.sources.jdbc import JdbcReadSpec

        c = self.ctx
        with self.tr.span("content_checksum:source", layer="check"):
            want = content_checksum(load_table(self.spark, c["data"], "orders").select(*W.JDBC_COLUMNS))
        with self.tr.span("content_checksum:read_back", layer="check"):
            got = content_checksum(JdbcReadSpec(url=c["jdbc_url"], table="orders_rt").load(self.spark))
        if got != want:
            self.problems.append(f"jdbc: read-back checksum {got} != source {want}")
            for op in self.ops:
                if op["kind"] == "jdbc":
                    op["ok"] = False

    # -- phases -------------------------------------------------------------

    def cache_inputs(self) -> float:
        from copy_databasetables_spark.io import load_table

        if not self.ctx["cache"]:
            return 0.0  # copy_sync reads uncached parquet
        with self.tr.span("cache_inputs", layer="io") as rec:
            for t in self.ctx["cache"]:
                load_table(self.spark, self.ctx["data"], t).cache().count()
        return rec["s"]

    def run_pass(self, k: int, check: bool = False) -> None:
        names = self.ctx["orders"][k]
        with self.tr.span(f"pass:{k}"):
            if names is None:
                self.copy_pass(W.WARMUP_COPY if check else W.COPY_TABLES)
            else:
                for name in names:
                    self.query(name, check)

    def timed_passes(self) -> dict:
        start_span, start_op = len(self.tr.spans), len(self.ops)
        tmp0 = self._artifact_bytes()
        t0 = time.perf_counter()
        pass_s = []
        for k in range(self.ctx["warmup"], self.ctx["warmup"] + self.ctx["passes"]):
            self.run_pass(k)
            pass_s.append(time.perf_counter() - t0 - sum(pass_s))
        wall = time.perf_counter() - t0
        if self.ctx["queries_list"] is None:
            self.jdbc_check()
        timed = self.ops[start_op:]
        for op in timed:
            if op["name"] in self.bad_queries:
                op["ok"] = False
        return {"wall_s": wall, "pass_s": pass_s, "ops": timed, "since": start_span,
                "tmp_bytes": self._artifact_bytes() - tmp0}

    def _artifact_bytes(self) -> int:
        root = self.ctx["artifacts"]
        return sum(W.dir_bytes(os.path.join(root, d)) for d in os.listdir(root)
                   if d.startswith("spark_graft_"))

    def layer_metrics(self, timed: dict) -> dict:
        tr, since = self.tr, timed["since"]
        jobs = tr.job_counts(since)
        sec = lambda layer: tr.seconds(layer, since)  # noqa: E731
        nj = lambda layer, k="jobs": jobs.get(layer, {}).get(k, 0)  # noqa: E731
        copy_s, jdbc_s = sec("copy.table"), sec("jdbc.write") + sec("jdbc.read")
        c = self.ctx
        return {
            "operators.build_s": sec("operators.build"),
            "operators.build_jobs": nj("operators.build"),
            "operators.execute_s": sec("operators.execute"),
            "operators.execute_jobs": nj("operators.execute"),
            "operators.execute_tasks": nj("operators.execute", "tasks"),
            "ckpt.free_s": sec("ckpt"),
            "ckpt.rdds_freed": self.freed["rdds"],
            "ckpt.blocks_freed": self.freed["blocks"],
            "ckpt.persistent_rdds_left": self.spark.sparkContext._jsc.getPersistentRDDs().size(),
            "copy.table_s": copy_s,
            "copy.table_jobs": nj("copy.table"),
            "copy.checksum_s": sum(r["s"] for r in tr.spans[since:]
                                   if r["name"] == "content_checksum:source"),
            "copy.cdc_apply_s": sec("copy.cdc"),
            "copy.cdc_jobs": nj("copy.cdc"),
            "copy.rows_per_s": self.copy_rows / copy_s if copy_s else 0.0,
            "copy.stored_bytes_ratio": (c["stored_bytes"] / c["source_bytes"]
                                        if "stored_bytes" in c else 0.0),
            "jdbc.write_s": sec("jdbc.write"),
            "jdbc.read_s": sec("jdbc.read"),
            "jdbc.rows_per_s": (2 * c["n_orders"] * c["passes"] / jdbc_s) if jdbc_s else 0.0,
            "artifacts.tmp_bytes_left": timed["tmp_bytes"],
        }


def percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    return sorted_vals[max(0, math.ceil(p / 100 * len(sorted_vals)) - 1)]


def run(args) -> tuple[dict, dict]:
    check = load_check_module()
    from copy_databasetables_spark import get_spark, operators

    spec = W.WORKLOADS[args.workload]
    data = ensure_data()
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sandbox(work)
    artifacts = os.path.join(work, "artifacts")
    os.makedirs(artifacts)
    redirect_engine_artifacts(artifacts)

    rng = random.Random(args.seed)
    names = spec["queries"]
    passes = max(1, round(spec["passes"] * args.seconds / 10))
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    if expected["data_version"] != datagen.VERSION:
        raise RuntimeError("expected.json is stale: run python3 perfbench/expected.py")
    ctx = {
        "data": data, "passes": passes, "queries_list": names, "cache": spec["cache"],
        "queries": operators.all_queries(), "expected": expected["queries"],
        "normalize": check.normalize, "artifacts": artifacts,
        "warmup": spec["warmup"],
        "orders": [rng.sample(names, len(names)) if names else None
                   for _ in range(spec["warmup"] + passes)],
    }
    if names is None:
        import pyarrow.parquet as pq

        orders_path = os.path.join(data, "orders.parquet")
        log = datagen.change_log(pq.read_table(orders_path), args.seed)
        ctx["cdc_log"] = os.path.join(work, "cdc_log.parquet")
        pq.write_table(log, ctx["cdc_log"])
        ctx["cdc_expected"] = W.cdc_expected_count(orders_path, ctx["cdc_log"])
        ctx["n_orders"] = pq.read_metadata(orders_path).num_rows
        ctx["target"] = os.path.join(work, "target")
        ctx["jdbc_url"] = f"jdbc:derby:{os.path.join(work, 'derby', 'rt')};create=true"
        ctx["source_bytes"] = sum(
            os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in W.COPY_TABLES
        )
        ctx["cdc_changes"] = log.num_rows
    else:
        os.environ["SPARK_GRAFT_SCAN_PARALLELISM"] = str(os.environ["SPARK_GRAFT_CPUS"])

    # phase A: untraced — set-up, the checking warm-up pass, the timed passes
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    a = Phase(ctx, spark, traced=False)
    cache_s = a.cache_inputs()
    t0 = time.perf_counter()
    a.run_pass(0, check=True)
    for k in range(1, ctx["warmup"]):
        a.run_pass(k)
    warm_s = time.perf_counter() - t0
    ta = a.timed_passes()
    rss = vm_hwm_mb(jvm_pid)
    lat = sorted(op["s"] for op in ta["ops"])
    n = len(lat)
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": os.environ["SPARK_GRAFT_CPUS"],
        "passes": passes, "samples": n, "tail_percentile": TAIL_PERCENTILE,
        "beyond_tail": n - math.ceil(TAIL_PERCENTILE / 100 * n),
        "setup": {"session_start_s": start_s, "cache_inputs_s": cache_s, "warmup_s": warm_s},
        "pass_s": ta["pass_s"],
        "problems": a.problems,
        "op_median_s": {nm: statistics.median(o["s"] for o in ta["ops"] if o["name"] == nm)
                        for nm in dict.fromkeys(o["name"] for o in ta["ops"])},
    }
    if names is None:
        detail["cdc_changes"] = ctx["cdc_changes"]
    timed_ops = list(ta["ops"])
    if not args.trace:
        metrics = {
            "setup_s": (start_s + cache_s + warm_s, "s"),
            "wall_s": (ta["wall_s"], "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (percentile(lat, TAIL_PERCENTILE), "s"),
        }
    else:
        # phase B: the timed passes again on a fresh SparkContext (same JVM)
        # with the event log on; phase C repeats them untraced on another
        # fresh context, as the reference for the tracing overhead
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        spark = restart(spark, log_dir)
        b = Phase(ctx, spark, traced=True)
        b.cache_inputs()
        tb = b.timed_passes()
        per_layer = b.layer_metrics(tb)
        trace_dir = os.path.join(STATE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}")
        b.tr.write(stem + ".spans.jsonl")
        spark = restart(spark, None)  # stopping B's context closes its event log
        c = Phase(ctx, spark, traced=False)
        c.cache_inputs()
        tc = c.timed_passes()
        by_layer, driver_s = layers.summarize_eventlog(layers.eventlog_file(log_dir), b.tr.spans)
        per_layer["operators.build_driver_s"] = driver_s
        for layer, vals in by_layer.items():
            for k, v in vals.items():
                per_layer[f"{layer}.{k}"] = v
        per_layer["jvm.peak_rss_mb"] = rss
        per_layer["session.start_s"] = start_s
        per_layer["io.cache_inputs_s"] = cache_s
        per_layer["trace.wall_s"] = tb["wall_s"]
        per_layer["trace.overhead_ratio"] = tb["wall_s"] / tc["wall_s"]
        detail["trace_overhead_ratio"] = per_layer["trace.overhead_ratio"]
        detail["problems"] += b.problems + c.problems
        with open(stem + ".layers.json", "w") as f:
            json.dump(per_layer, f, indent=1, sort_keys=True)
        timed_ops += tb["ops"] + tc["ops"]
        metrics = {k: (v, LAYER_UNITS[k]) for k, v in per_layer.items()}
    failed = sum(not op["ok"] for op in timed_ops)
    detail["fail_ratio"] = failed / len(timed_ops)
    result = {
        "correct": failed == 0 and not detail["problems"],
        "attempted": len(timed_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


LAYER_UNITS = {
    "session.start_s": "s", "io.cache_inputs_s": "s", "jvm.peak_rss_mb": "MB",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.build_driver_s": "s", "operators.execute_s": "s",
    "operators.execute_jobs": "count", "operators.execute_tasks": "count",
    "ckpt.free_s": "s", "ckpt.rdds_freed": "count", "ckpt.blocks_freed": "count",
    "ckpt.persistent_rdds_left": "count",
    "copy.table_s": "s", "copy.table_jobs": "count", "copy.checksum_s": "s",
    "copy.cdc_apply_s": "s", "copy.cdc_jobs": "count", "copy.rows_per_s": "1/s",
    "copy.stored_bytes_ratio": "ratio",
    "jdbc.write_s": "s", "jdbc.read_s": "s", "jdbc.rows_per_s": "1/s",
    "artifacts.tmp_bytes_left": "bytes",
    "trace.wall_s": "s", "trace.overhead_ratio": "ratio",
    **{
        f"{layer}.{k}": ("bytes" if k.endswith("_bytes") else "s")
        for layer in layers.EVENTLOG_LAYERS for k in layers.EVENTLOG_FIELDS
    },
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        result, detail = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_jvm()
        except ImportError:
            pass  # the engine or pyspark never loaded: nothing was started
        shutil.rmtree(os.path.join(STATE, f"run-{os.getpid()}"), ignore_errors=True)
        signal.alarm(0)
    print(json.dumps({"perfbench": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
