#!/usr/bin/env python3
"""End-to-end benchmark of cassandra_sql_spark, one workload per process.

    python3 perfbench/run.py --workload registry|engine_rw \
        --seed N --seconds S --trace 0|1 [--smoke]

One client runs closed-loop passes over the workload's ops on
``local[<cores>]``: at least one, and another only while it fits in
``--seconds`` at the last pass's pace. Before that comes a fixed set-up:
session start, source layout re-encoding, and one warm-up pass whose
outputs are checked against DuckDB (the check itself is not timed). The last line of stdout is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics under ``--trace 0`` and the per-layer split under
``--trace 1`` (see perfbench/README.md). Every file the run writes lives in
a private directory under ``.perfbench_tmp/`` that is removed at exit; a
traced run also leaves its spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen, workloads  # noqa: E402

# scale factor per workload: engine_rw's cost is per statement, not per
# row, so it runs on the smallest data; see README.md for the time budget
SF = {"registry": 0.01, "engine_rw": 0.001}
SMOKE_SF = 0.001
LAYOUT_REPEATS = 3
SMOKE_PASSES = 2
MB = 1024 * 1024

# Times are CPU seconds (driver plus JVM). Wall times are printed on stderr
# but carry no bound: over ten runs of identical code their quartile spread
# followed the host's CPU steal to 55% of the median (see README.md).
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "heap_live_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "sources.layout_s": "s",
    "io.load_s": "s", "io.load_calls": "count",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "queries.py4j_calls": "count",
    "spark.plan_s": "s", "spark.exec_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.task_gc_share": "share", "spark.core_busy_ratio": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.input_rows": "count",
    "spark.result_rows": "count",
    "sqlfront.split_share": "share", "sqlfront.preprocess_share": "share",
    "sqlfront.preprocess_calls": "count",
    "engine.stmt_self_share": "share", "engine.jobs_per_stmt": "ratio",
    "engine.cached_added": "count", "engine.bytes_written_mb": "MB",
    "engine.files_written": "count", "engine.space_amp": "ratio",
    "catalog.saves": "count", "catalog.save_share": "share",
    "catalog.bytes_written_kb": "kB",
    "cache.relations_added": "count", "cache.storage_mb": "MB",
    "cached_left": "count",
    "env.steal_share": "share", "tracing.overhead_s": "s",
    "trace.unattributed_share": "share",
}
# per-pass counters whose values must repeat exactly from pass to pass
EXACT_COUNTS = ("spark.jobs", "queries.py4j_calls", "catalog.saves",
                "engine.cached_added", "sqlfront.preprocess_calls")


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    return v[max(0, min(len(v) - 1, -(-len(v) * q // 100) - 1))] if v else 0.0


def cpu_seconds(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")


def _own_cpu() -> float:
    t = os.times()
    return t.user + t.system


def cpu_steal() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def _parquet_files(top: str) -> dict[int, int]:
    """inode -> size of every parquet file under ``top`` (a hard-linked
    file, as an append links the previous version's files, counts once)."""
    out = {}
    for root, _, names in os.walk(top):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(root, n))
                out[st.st_ino] = st.st_size
    return out


def _space_amp(ep) -> float:
    """Parquet bytes on disk over bytes of the live table versions."""
    if ep.engine is None:
        return 0.0
    live: dict[int, int] = {}
    for t in ep.engine.catalog.tables.values():
        live.update(_parquet_files(t.path))
    total = sum(_parquet_files(ep.warehouse).values())
    return total / max(1, sum(live.values()))


class Run:
    def __init__(self, args, scratch: str):
        self.args = args
        self.workload = args.workload
        self.scratch = scratch
        self.sf = SMOKE_SF if args.smoke else SF[args.workload]
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.op_records: list[dict] = []

    # -- set-up ----------------------------------------------------------

    def start(self) -> None:
        d = self.scratch
        self.src_dir = os.path.join(d, "data")
        self.rows = datagen.generate(self.src_dir, self.sf)
        t0, cpu0 = time.perf_counter(), _own_cpu()
        # program import and session start; the registry import is part of
        # set-up, not of the first pass
        import cassandra_sql_spark.engine  # noqa: F401
        import cassandra_sql_spark.queries  # noqa: F401
        from cassandra_sql_spark.session import default_parallelism, get_spark

        self.cores = default_parallelism()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={d}/tmp -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._jvm
        self.jvm_pid = self.jvm.ProcessHandle.current().pid()
        self.session_s = time.perf_counter() - t0
        # the JVM started inside get_spark: all its CPU so far is set-up
        self.session_cpu_s = _own_cpu() - cpu0 + cpu_seconds(self.jvm_pid)
        if self.args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
        from cassandra_sql_spark import sources

        self.layout_s, self.layout_cpu_s = [], []
        for i in range(LAYOUT_REPEATS):
            t0, cpu0 = time.perf_counter(), self._cpu()
            self.data_dir = sources.optimize_layout(
                self.src_dir, cache_dir=os.path.join(d, f"layout{i}"))
            self.layout_s.append(time.perf_counter() - t0)
            self.layout_cpu_s.append(self._cpu() - cpu0)

    # -- ops and passes --------------------------------------------------

    def pass_ops(self, pass_no: int):
        """(ops, engine pass or None) for one pass, built fresh."""
        if self.workload == "engine_rw":
            ep = workloads.EnginePass(
                self.spark, self.data_dir,
                os.path.join(self.scratch, "warehouse", f"pass{pass_no}"),
                self.script)
            return ep.ops(), ep
        order = workloads.order_for_pass(
            workloads.REGISTRY_OPS, self.args.seed, pass_no)
        return workloads.registry_ops(self.spark, self.data_dir, order), None

    def run_op(self, op, pass_no: int, collect: bool):
        """Build + sink one op; returns (wall seconds, rows or None)."""
        sink = "collect" if collect and op.sink == "noop" else op.sink
        tr = self.tracer
        op_id = f"p{pass_no}:{op.name}"
        self.attempted += 1
        rec = {"pass": pass_no, "op": op.name, "class": op.cls}
        build = out = root = None
        if tr is not None:
            with tr.bookkeeping():
                before = (tr.counts["catalog.save_calls"],
                          self._cached_relations())
        t0 = time.perf_counter()
        try:
            if tr is None:
                out = self._sink(op.build(), sink)
            else:
                layer = "engine" if self.workload == "engine_rw" \
                    else "queries"
                with tr.op(op_id, op.name, op.cls) as root:
                    calls0 = tr.py4j_calls
                    with tr.span(layer, "construct") as build:
                        df = op.build()
                    rec["py4j_calls"] = tr.py4j_calls - calls0
                    with tr.span("spark.plan", "sink"):
                        out = self._sink(df, sink)
        except Exception:
            self.failed += 1
            rec["error"] = traceback.format_exc(limit=3)
            print(f"op {op_id} raised:\n{rec['error']}", file=sys.stderr)
        rec["wall_s"] = time.perf_counter() - t0
        if tr is not None:
            # the op's own span: without the tracer's job-group calls and
            # status-store reads around it
            rec["wall_s"] = root.end - root.start
            with tr.bookkeeping():
                rec.update(self._op_trace(op_id, build, before))
        self.op_records.append(rec)
        return rec["wall_s"], out

    @staticmethod
    def _sink(df, sink: str):
        if sink == "noop":
            df.write.mode("overwrite").format("noop").save()
        elif sink == "collect":
            return df.collect(), df.columns
        return None

    def run_pass(self, pass_no: int, collect: bool = False):
        ops, ep = self.pass_ops(pass_no)
        results, walls = {}, []
        tr = self.tracer
        self._full_gc()
        if tr is not None:
            with tr.bookkeeping():
                counts0, over0 = Counter(tr.counts), tr.overhead_s
                cached0 = self._cached_relations()
                written: dict[int, int] = {}
        steal0 = cpu_steal()
        cpu0 = self._cpu()
        t0 = time.perf_counter()
        for op in ops:
            wall, out = self.run_op(op, pass_no, collect)
            walls.append((op, wall))
            if out is not None:
                results[op.name] = out
            if tr is not None and ep is not None:
                with tr.bookkeeping():
                    written.update(_parquet_files(ep.warehouse))
        elapsed = time.perf_counter() - t0
        cpu = self._cpu() - cpu0
        steal1 = cpu_steal()
        p = {"pass": pass_no, "wall_s": elapsed, "cpu_s": cpu,
             "ops": walls, "steal": (steal1[0] - steal0[0],
                                     steal1[1] - steal0[1])}
        if tr is not None:
            with tr.bookkeeping():
                p["counts"] = Counter(tr.counts)
                p["counts"].subtract(counts0)
                p["cache.relations_added"] = \
                    self._cached_relations() - cached0
                p["cache.storage_mb"] = self._storage_mb()
                if ep is not None:
                    p["engine.bytes_written_mb"] = sum(written.values()) / MB
                    p["engine.files_written"] = len(written)
                    p["engine.space_amp"] = _space_amp(ep)
            p["tracing.overhead_s"] = tr.overhead_s - over0
        return p, results, ep

    @staticmethod
    def _end_pass(ep) -> None:
        if ep is not None:
            shutil.rmtree(ep.warehouse, ignore_errors=True)

    # -- JVM state -------------------------------------------------------

    def _cpu(self) -> float:
        """CPU seconds of this process and the JVM so far."""
        return _own_cpu() + cpu_seconds(self.jvm_pid)

    def _full_gc(self) -> None:
        gc.collect()
        self.jvm.System.gc()

    def _cached_relations(self) -> int:
        return self.spark._jsparkSession.sharedState().cacheManager() \
            .numCachedEntries()

    def _storage_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def cached_left(self) -> int:
        return (self._cached_relations()
                + self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def heap_live_mb(self) -> float:
        """Least heap in use over three full GCs: Spark's ContextCleaner
        frees broadcasts and shuffles of collected objects asynchronously,
        after the GC that found them unreachable."""
        mx = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for _ in range(3):
            self._full_gc()
            time.sleep(0.1)
            used.append(mx.getHeapMemoryUsage().getUsed())
        return min(used) / MB

    # -- traced-run bookkeeping -----------------------------------------

    def _op_trace(self, op_id: str, build, before: tuple) -> dict:
        tr = self.tracer
        spans = tr.op_spans(op_id)
        jobs = [s for s in spans if s.layer == "spark.exec"]
        rec = {"layers": tr.layer_split(spans), "jobs": len(jobs),
               "construct_jobs": 0,
               "catalog_saves": tr.counts["catalog.save_calls"] - before[0],
               "cached_added": self._cached_relations() - before[1]}
        if build is not None:
            rec["construct_jobs"] = sum(
                1 for s in jobs
                if build.start - 0.002 <= s.start <= build.end + 0.002)
        return rec

    # -- the run ---------------------------------------------------------

    def execute(self) -> dict:
        t_setup = time.perf_counter()
        self.start()
        if self.workload == "engine_rw":
            self.script = workloads.engine_script(self.args.seed, self.rows)
        # warm-up pass: every op built, collected and checked
        warm, results, ep = self.run_pass(0, collect=True)
        setup_cpu_s = self.session_cpu_s \
            + statistics.median(self.layout_cpu_s) + warm["cpu_s"]
        self.result_rows = {n: len(r[0]) for n, r in results.items()}
        self._check(results, ep)
        self._end_pass(ep)
        layout_s = statistics.median(self.layout_s)
        setup_wall_s = self.session_s + layout_s + warm["wall_s"]
        print(f"set-up wall {setup_wall_s:.3f}s (session "
              f"{self.session_s:.3f}s, layout {layout_s:.3f}s, warm-up "
              f"{warm['wall_s']:.3f}s), cpu {setup_cpu_s:.3f}s; "
              f"wall {time.perf_counter() - t_setup:.1f}s", file=sys.stderr)

        passes = []
        t0 = time.perf_counter()
        while not passes or (
            len(passes) < SMOKE_PASSES if self.args.smoke else
            time.perf_counter() - t0 + passes[-1]["wall_s"]
            <= self.args.seconds
        ):
            p, _, ep = self.run_pass(len(passes) + 1)
            self._end_pass(ep)
            passes.append(p)
        cached_left = self.cached_left()
        heap = self.heap_live_mb()
        steal = sum(p["steal"][0] for p in passes) / max(
            1, sum(p["steal"][1] for p in passes))
        self._report(passes, steal)
        if self.args.trace:
            metrics = self._per_layer(passes, cached_left, steal)
        else:
            metrics = self._end_to_end(passes, setup_cpu_s, heap)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def _check(self, results: dict, ep) -> None:
        t0 = time.perf_counter()
        if self.workload == "engine_rw":
            problems = workloads.check_engine(
                self.src_dir, self.script, results,
                ep.engine if ep else None)
        else:
            problems = workloads.check_registry(
                self.src_dir, self.sf, results)
        for k, v in problems.items():
            print(f"check failed: {k}: {v}", file=sys.stderr)
        self.failed += len(problems)
        print(f"checks: {len(problems)} problems "
              f"[{time.perf_counter() - t0:.1f}s, not timed]",
              file=sys.stderr)

    def _end_to_end(self, passes, setup_cpu_s: float, heap: float) -> dict:
        values = {
            "setup_s": setup_cpu_s,
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "heap_live_mb": heap,
        }
        return {k: {"value": values[k], "unit": u}
                for k, u in END_TO_END.items()}

    def _per_layer(self, passes, cached_left: int, steal: float) -> dict:
        rows = []
        for p in passes:
            recs = [r for r in self.op_records if r["pass"] == p["pass"]]
            lay: Counter = Counter()
            for r in recs:
                lay.update(r.get("layers", {}))
            c = p["counts"]
            wall = sum(r["wall_s"] for r in recs)
            task_run = c["spark.task_run_ms"] / 1000
            exec_s = lay["spark.exec:job"]
            stmts = [r for r in recs if r["class"] != "open"] \
                if self.workload == "engine_rw" else []
            rows.append({
                "io.load_s": lay["io:load"],
                "io.load_calls": c["io.load_calls"],
                "queries.construct_s":
                    lay["queries:construct"] + lay["engine:construct"],
                "queries.construct_jobs": sum(
                    r.get("construct_jobs", 0) for r in recs),
                "queries.py4j_calls": sum(
                    r.get("py4j_calls", 0) for r in recs),
                "spark.plan_s": lay["spark.plan:sink"],
                "spark.exec_s": exec_s,
                "spark.jobs": c["spark.jobs"],
                "spark.stages": c["spark.stages"],
                "spark.tasks": c["spark.tasks"],
                "spark.task_run_s": task_run,
                "spark.task_cpu_s": c["spark.task_cpu_ns"] / 1e9,
                "spark.task_gc_share":
                    c["spark.task_gc_ms"] / 1000 / max(task_run, 1e-9),
                "spark.core_busy_ratio":
                    task_run / max(exec_s * self.cores, 1e-9),
                "spark.shuffle_write_mb":
                    c["spark.shuffle_write_bytes"] / MB,
                "spark.shuffle_read_mb": c["spark.shuffle_read_bytes"] / MB,
                "spark.spill_mb": c["spark.spill_bytes"] / MB,
                "spark.input_rows": c["spark.input_rows"],
                "spark.result_rows": sum(
                    self.result_rows.get(r["op"], 0) for r in recs),
                "sqlfront.split_share": lay["sqlfront:split"] / wall,
                "sqlfront.preprocess_share":
                    lay["sqlfront:preprocess"] / wall,
                "sqlfront.preprocess_calls":
                    c["sqlfront.preprocess_calls"],
                "engine.stmt_self_share": lay["engine:construct"] / wall,
                "engine.jobs_per_stmt": (
                    sum(r["jobs"] for r in stmts) / len(stmts)
                    if stmts else 0.0),
                "engine.cached_added":
                    sum(r["cached_added"] for r in stmts),
                "engine.bytes_written_mb":
                    p.get("engine.bytes_written_mb", 0.0),
                "engine.files_written": p.get("engine.files_written", 0),
                "engine.space_amp": p.get("engine.space_amp", 0.0),
                "catalog.saves": c["catalog.save_calls"],
                "catalog.save_share": lay["catalog:save"] / wall,
                "catalog.bytes_written_kb":
                    c["catalog.bytes_written"] / 1024,
                "cache.relations_added": p["cache.relations_added"],
                "cache.storage_mb": p["cache.storage_mb"],
                "tracing.overhead_s": p["tracing.overhead_s"],
                "trace.unattributed_share": lay["harness:op"] / wall,
            })
        self.pass_counts = [{k: r[k] for k in EXACT_COUNTS} for r in rows]
        values = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        values.update({
            "session.start_s": self.session_s,
            "sources.layout_s": statistics.median(self.layout_s),
            "cached_left": cached_left,
            "env.steal_share": steal,
        })
        return {k: {"value": values[k], "unit": u}
                for k, u in PER_LAYER.items()}

    def _report(self, passes, steal: float) -> None:
        """Human-readable summary on stderr."""
        by_cls: dict[str, list[float]] = {}
        by_op: dict[str, list[float]] = {}
        for p in passes:
            for op, w in p["ops"]:
                by_cls.setdefault(op.cls, []).append(w)
                by_op.setdefault(op.name, []).append(w)
        print("op medians: " + ", ".join(
            f"{n} {statistics.median(ws):.3f}" for n, ws in by_op.items()),
            file=sys.stderr)
        print(f"{len(passes)} timed passes, steal share {steal:.3f}; pass_s "
              + ", ".join(f"{p['wall_s']:.3f}" for p in passes),
              file=sys.stderr)
        for cls, ws in sorted(by_cls.items()):
            print(f"  {cls:6s} n={len(ws):4d} p50 {percentile(ws, 50):.4f}s "
                  f"p90 {percentile(ws, 90):.4f}s", file=sys.stderr)


def _scratch_root() -> str:
    path = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(path, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=path)


def _stop_spark(run) -> None:
    spark = getattr(run, "spark", None)
    if spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        # the JVM exits when its stdin closes, also after an interrupted
        # py4j call left the gateway unusable
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=tuple(SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"sf{SMOKE_SF} data, {SMOKE_PASSES} timed passes")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cassandra_sql_spark")):
        print(f"cassandra_sql_spark not found under {ROOT}", file=sys.stderr)
        return 2
    # SIGTERM unwinds through the finally below, which stops Spark and
    # removes the run's directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = _scratch_root()
    for sub in ("tmp", "local", "spark-warehouse"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(scratch, "spark-warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": os.path.join(scratch, "tmp"),
    })
    tempfile.tempdir = None
    run = Run(args, scratch)
    try:
        result = run.execute()
        if run.tracer is not None:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            run.tracer.write(
                os.path.join(out, f"spans-{args.workload}-{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed,
                 "ops": run.op_records, "pass_counts": run.pass_counts})
    finally:
        try:
            if run.tracer is not None:
                run.tracer.uninstall()
            _stop_spark(run)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(scratch))
            except OSError:
                pass  # another run still owns a sibling directory
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
