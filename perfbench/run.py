#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload llm_pipeline --seed 1 --seconds 5 --trace 0

One client thread drives the engine's public functions in a closed
loop on ``local[<cores>]``. Set-up (session, in-memory store, one
warm-up pass whose outputs are checked against their oracles) comes
first; then whole passes of the workload's ops, each pass in an order
drawn from ``--seed``, run until ``--seconds`` have been measured.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes the
same run with spans and Spark status collection and reports the
per-layer metrics instead. Workloads, metrics and the layer map are
described in NOTES.md. Exits non-zero when an output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
EXPECTED = os.path.join(HERE, "expected")

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_min": "1/min",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "store_mb": "MB",
}

#: Per-layer metrics: per op (per cycle on stream_ingest) unless the
#: name says otherwise; see NOTES.md for the layer map.
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.load_s": "s",
    "specs.build_s": "s",
    "specs.build_jobs": "count",
    "specs.build_share": "ratio",
    "plan.driver_s": "s",
    "plan.sql_executions": "count",
    "plan.exchanges": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_s": "s",
    "exec.task_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "pipeline.py_start_s": "s",
    "pipeline.py_init_s": "s",
    "pipeline.py_run_s": "s",
    "pipeline.py_sent_mb": "MB",
    "pipeline.py_returned_mb": "MB",
    "streaming.ingest_s": "s",
    "streaming.start_stop_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.batches": "count",
    "streaming.rows_in": "count",
    "streaming.ingest_rows_per_s": "1/s",
    "streaming.state_read_s": "s",
    "streaming.state_partitions": "count",
    "streaming.state_mb": "MB",
    "streaming.compaction_cycles": "count",
    "trace.collect_s": "s",
}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=0.01,
        help="store size as a TPC-H scale factor (0.001 for the self-test)",
    )
    p.add_argument(
        "--cores", type=int, default=len(os.sched_getaffinity(0)),
        help="local[N] parallelism (default: the CPUs this process may use)",
    )
    return p.parse_args(argv)


class Bench:
    """One run: set-up, warm-up with correctness checks, timed passes."""

    def __init__(self, args, run_dir: str) -> None:
        import fixtures
        from spans import Tracer

        self.args = args
        self.run_dir = run_dir
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(bool(args.trace))
        self.data_dir = fixtures.ensure_data(os.path.join(WORK, "data"), args.scale)
        self.spark = None
        self.status = None
        self.store_mb = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.latencies: list[float] = []
        self.layer: dict[str, float] = {}
        self.setup: dict[str, float] = {}

    # ------------------------------------------------------------ set-up

    def start(self) -> None:
        from flink_snappydata_spark.catalog import enable_table_cache, load_table
        from flink_snappydata_spark.session import get_spark

        from workloads import WORKLOADS

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # -UsePerfData: no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.run_dir}/tmp -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        with self.tracer.span("session.start"):
            t = time.perf_counter()
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{self.args.cores}]", extra_conf=conf
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.setup["session.start_s"] = time.perf_counter() - t
        with self.tracer.span("catalog.load"):
            t = time.perf_counter()
            enable_table_cache()
            for name in WORKLOADS[self.args.workload].tables:
                load_table(self.spark, self.data_dir, name).count()
            self.setup["catalog.load_s"] = time.perf_counter() - t
        from spans import SparkStatus

        self.status = SparkStatus(self.spark)
        self.store_mb = self.status.store_mb()

    def stop(self) -> None:
        """Stop the session and wait for the JVM it launched to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # ------------------------------------------------------------- ops

    def _attempt(self, fn):
        """Run ``fn``; a raised error counts as a failed op."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def _add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def _collect(self, windows, t_start: float, t_end: float) -> None:
        """Attribute the Spark work of one op, read from the status
        stores after it finished. ``windows`` lists, per call inside the
        op, its span id, the ``[first, end)`` window of job ids it
        launched, and whether it was a query build."""
        from spans import union_length

        t = time.perf_counter()
        busy = []
        for parent, (first, end), is_build in windows:
            js = self.status.jobs(first, end)
            if is_build:
                self._add("specs.build_jobs", len(js.jobs))
            self._add("exec.jobs", len(js.jobs))
            self._add("exec.stages", js.stages)
            self._add("exec.tasks", js.tasks)
            self._add("exec.failed_tasks", js.failed_tasks)
            self._add("exec.task_s", js.task_s)
            self._add("exec.shuffle_write_mb", js.shuffle_write_bytes / 2**20)
            self._add("exec.spill_mb", js.spill_bytes / 2**20)
            for jid, sub, done in js.jobs:
                a, b = self.tracer.from_epoch_ms(sub), self.tracer.from_epoch_ms(done)
                self._add("exec.job_s", b - a)
                busy.append((max(a, t_start), min(b, t_end)))
                self.tracer.add("spark.job", a, b, parent=parent, job_id=jid)
        self._add("plan.driver_s", (t_end - t_start) - union_length(busy))
        sql = self.status.executions()
        self._add("plan.sql_executions", sql.executions)
        self._add("plan.exchanges", sql.exchanges)
        for key, value in sql.py.items():
            self._add(f"pipeline.{key}", value)
        self._add("trace.collect_s", time.perf_counter() - t)

    def query_op(self, op: int, name: str, fn, collect: bool, parent=None):
        """Build one registry query and force it: ``toPandas`` on the
        warm-up pass (its rows are checked), a ``noop`` write after.
        Returns (latency, result) or None when the op raised."""
        from flink_snappydata_spark.util import release_caches

        # library persists outlive their query; release them untimed
        release_caches()
        trace = self.tracer.enabled and not collect
        tr = self.tracer

        jobs = self.status.next_job_id if trace else int

        def run():
            j0 = jobs()
            t0 = tr.now()
            with tr.span("op", parent=parent, op=op, query=name) as sid:
                with tr.span("specs.build", parent=sid, op=op) as bid:
                    df = fn(self.spark, self.data_dir)
                t1 = tr.now()
                j1 = jobs()
                with tr.span("exec.force", parent=sid, op=op) as fid:
                    if collect:
                        out = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                        out = None
            t2 = tr.now()
            if trace:
                j2 = jobs()
                self._add("specs.build_s", t1 - t0)
                self._collect([(bid, (j0, j1), True), (fid, (j1, j2), False)], t0, t2)
            return t2 - t0, out

        return self._attempt(run)

    # ------------------------------------------------------------- query workloads

    def run_queries(self, names, min_passes: int) -> None:
        from flink_snappydata_spark import registry

        queries = registry.queries()
        warm = list(names)
        self.rng.shuffle(warm)
        results = {}
        t_warm = 0.0
        with self.tracer.span("warmup") as wid:
            for i, name in enumerate(warm):
                r = self.query_op(-1 - i, name, queries[name], collect=True, parent=wid)
                if r is not None:
                    print(f"warm-up {name}: {r[0]:.3f} s", file=sys.stderr)
                    t_warm += r[0]
                    results[name] = r[1]
        self.setup["warmup_s"] = t_warm
        self.check_queries(results)
        self.status.skip_executions()

        op = 0
        passes = 0
        t_end = time.perf_counter() + self.args.seconds
        while passes < min_passes or time.perf_counter() < t_end:
            order = list(names)
            self.rng.shuffle(order)
            for name in order:
                r = self.query_op(op, name, queries[name], collect=False)
                op += 1
                if r is not None:
                    print(f"op {name}: {r[0]:.3f} s", file=sys.stderr)
                    self.latencies.append(r[0])
            passes += 1

    def check_queries(self, results) -> None:
        import pandas as pd
        from flink_snappydata_spark import registry
        from tests.oracle_harness import compare_frames, duck_connection

        from workloads import COMMITTED_ORACLES

        con = duck_connection(self.data_dir)
        oracles = registry.oracle_sql()
        for name, got in sorted(results.items()):
            if name in COMMITTED_ORACLES:
                path = os.path.join(EXPECTED, f"{name}-sf{self.args.scale:g}.parquet")
                want = pd.read_parquet(path)
            else:
                want = con.execute(oracles[name]).df()
            for p in compare_frames(got, want):
                self.problems.append(f"{name}: {p}")
        con.close()

    # ------------------------------------------------------------- stream workload

    def run_stream(self, min_passes: int) -> None:
        import pyarrow.parquet as pq

        import fixtures
        from workloads import LOOPS, N_SLICES

        loops = {}
        for loop in LOOPS:
            table = pq.read_table(
                os.path.join(self.data_dir, f"{loop.source}.parquet"),
                columns=list(loop.columns),
            )
            slices = fixtures.slice_ids(
                table.column(loop.key).to_numpy(), self.args.seed, N_SLICES
            )
            src = os.path.join(self.run_dir, "src", loop.name)
            os.makedirs(src)
            loops[loop.name] = {
                "loop": loop,
                "table": table,
                "slices": slices,
                "src": src,
                "ckpt": os.path.join(self.run_dir, "ckpt", loop.name),
                "published": 0,
                "schema": None,
                "stream": None,
                "compacted_to": 0,
            }

        def cycle(op: int, st: dict, timed: bool, parent=None):
            loop = st["loop"]
            k = st["published"]
            part = st["table"].filter(st["slices"] == k)
            tmp = os.path.join(st["src"], f".slice-{k:05d}.parquet")
            pq.write_table(part, tmp)
            os.rename(tmp, os.path.join(st["src"], f"slice-{k:05d}.parquet"))
            st["published"] += 1
            if st["stream"] is None:
                st["schema"] = self.spark.read.parquet(st["src"]).schema
                st["stream"] = self.spark.readStream.schema(st["schema"]).parquet(st["src"])
            tr = self.tracer
            trace = tr.enabled and timed
            jobs = self.status.next_job_id if trace else int

            def run():
                j0 = jobs()
                t0 = tr.now()
                with tr.span("cycle", parent=parent, op=op, loop=loop.name) as cid:
                    with tr.span("streaming.ingest", parent=cid, op=op) as iid:
                        q = loop.ingest(st["stream"], loop.tables, st["ckpt"])
                    t1 = tr.now()
                    j1 = jobs()
                    with tr.span("streaming.state_read", parent=cid, op=op) as rid:
                        with tr.span("specs.build", parent=rid, op=op) as bid:
                            df = loop.from_state(self.spark, loop.tables)
                        t2 = tr.now()
                        j2 = jobs()
                        with tr.span("exec.force", parent=rid, op=op) as fid:
                            df.write.format("noop").mode("overwrite").save()
                t3 = tr.now()
                progress = list(q.recentProgress)
                rows = sum(p["numInputRows"] for p in progress)
                if rows != part.num_rows:
                    self.problems.append(
                        f"{loop.name}: slice {k} landed {rows} rows, published {part.num_rows}"
                    )
                if timed:
                    self._add("streaming.rows_in", rows)
                    self._add("streaming.ingest_s", t1 - t0)
                    self._add("streaming.batches", len(progress))
                if trace:
                    self._stream_layers(loop, progress, iid, t0, t1, t2, t3)
                    self._add("specs.build_s", t2 - t1)
                    j3 = jobs()
                    self._collect(
                        [(iid, (j0, j1), False), (bid, (j1, j2), True), (fid, (j2, j3), False)],
                        t0, t3,
                    )
                if trace and loop.compaction_col:
                    self._count_compaction(st)
                return t3 - t0

            return self._attempt(run)

        names = [loop.name for loop in LOOPS]
        warm = list(names)
        self.rng.shuffle(warm)
        t_warm = 0.0
        with self.tracer.span("warmup") as wid:
            for i, name in enumerate(warm):
                lat = cycle(-1 - i, loops[name], timed=False, parent=wid)
                if lat is not None:
                    print(f"warm-up {name}: {lat:.3f} s", file=sys.stderr)
                    t_warm += lat
        self.setup["warmup_s"] = t_warm
        self.status.skip_executions()

        op = 0
        passes = 0
        t_end = time.perf_counter() + self.args.seconds
        while passes < min_passes or time.perf_counter() < t_end:
            if any(st["published"] >= N_SLICES for st in loops.values()):
                print("all stream slices published; timed phase ends early", file=sys.stderr)
                break
            order = list(names)
            self.rng.shuffle(order)
            for name in order:
                lat = cycle(op, loops[name], timed=True)
                op += 1
                if lat is not None:
                    print(f"op {name}: {lat:.3f} s", file=sys.stderr)
                    self.latencies.append(lat)
            passes += 1

        if self.tracer.enabled:
            self._state_size(LOOPS)
        self.check_stream(loops)

    def _stream_layers(self, loop, progress, iid, t0, t1, t2, t3) -> None:
        from datetime import datetime

        trig = 0.0
        for p in progress:
            d = p["durationMs"]
            trig += d.get("triggerExecution", 0) / 1000.0
            self._add("streaming.add_batch_s", d.get("addBatch", 0) / 1000.0)
            self._add("streaming.wal_commit_s", d.get("walCommit", 0) / 1000.0)
            self._add("streaming.commit_offsets_s", d.get("commitOffsets", 0) / 1000.0)
            self._add("streaming.latest_offset_s", d.get("latestOffset", 0) / 1000.0)
            start_ms = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000
            a = self.tracer.from_epoch_ms(start_ms)
            self.tracer.add(
                "streaming.trigger", a, a + d.get("triggerExecution", 0) / 1000.0,
                parent=iid, batch_id=p["batchId"],
            )
        self._add("streaming.trigger_s", trig)
        self._add("streaming.start_stop_s", (t1 - t0) - trig)
        self._add("streaming.state_read_s", t3 - t1)

    def _count_compaction(self, st: dict) -> None:
        """Count the cycle as a compaction cycle when the highest batch
        id stamped into the loop's compaction column advanced: read from
        the state table after the cycle, outside its timer."""
        from pyspark.sql import functions as F

        t = time.perf_counter()
        loop = st["loop"]
        row = self.spark.table(loop.tables[0]).agg(F.max(loop.compaction_col)).collect()
        stamped = row[0][0] or 0
        if stamped > st["compacted_to"]:
            self._add("streaming.compaction_cycles", 1)
            st["compacted_to"] = stamped
        self.status.skip_executions()
        self._add("trace.collect_s", time.perf_counter() - t)

    def _state_size(self, loops) -> None:
        wh = os.path.join(self.run_dir, "warehouse")
        parts = 0
        size = 0
        for loop in loops:
            for t in loop.tables:
                parts += len(self.spark.sql(f"SHOW PARTITIONS {t}").collect())
                for d, _, files in os.walk(os.path.join(wh, t)):
                    size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        self.layer["streaming.state_partitions"] = parts
        self.layer["streaming.state_mb"] = size / 2**20

    def check_stream(self, loops) -> None:
        """Each loop's state must match its batch twin's oracle over the
        rows published so far."""
        import numpy as np
        import pyarrow.parquet as pq
        from flink_snappydata_spark import registry
        from tests.oracle_harness import compare_frames, duck_connection

        con = duck_connection(self.data_dir)
        oracles = registry.oracle_sql()
        for name, st in loops.items():
            loop = st["loop"]
            got = self._attempt(lambda: loop.from_state(self.spark, loop.tables).toPandas())
            if got is None:
                continue
            full = pq.read_table(os.path.join(self.data_dir, f"{loop.source}.parquet"))
            keys = full.column(loop.key).to_numpy()
            mask = np.isin(keys, st["table"].column(loop.key).to_numpy()[st["slices"] < st["published"]])
            path = os.path.join(self.run_dir, f"published_{name}.parquet")
            pq.write_table(full.filter(mask), path)
            con.execute(f"CREATE OR REPLACE VIEW {loop.source} AS SELECT * FROM '{path}'")
            want = con.execute(oracles[loop.twin]).df()
            for p in compare_frames(got, want):
                self.problems.append(f"{name} state vs {loop.twin} oracle: {p}")
        con.close()

    # ------------------------------------------------------------- report

    def end_to_end(self) -> dict:
        lat = sorted(self.latencies)
        values = {
            "setup_s": self.setup["session.start_s"] + self.setup["catalog.load_s"]
            + self.setup["warmup_s"],
            "ops_per_min": 60.0 * len(lat) / sum(lat),
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0],
            "store_mb": self.store_mb,
        }
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def per_layer(acc: dict, setup: dict, latencies: list, cores: int) -> dict:
    """Per-layer metrics from the traced run's sums: times and counts
    per op (per cycle on stream_ingest) unless named otherwise."""
    n = len(latencies)
    g = lambda k: acc.get(k, 0.0)  # noqa: E731
    values = {
        "session.start_s": setup["session.start_s"],
        "catalog.load_s": setup["catalog.load_s"],
        "specs.build_share": g("specs.build_s") / sum(latencies),
        "exec.core_util": g("exec.task_s") / (g("exec.job_s") * cores) if g("exec.job_s") else 0.0,
        "exec.failed_tasks": g("exec.failed_tasks"),
        "streaming.batches": g("streaming.batches"),
        "streaming.rows_in": g("streaming.rows_in"),
        "streaming.ingest_rows_per_s": (
            g("streaming.rows_in") / g("streaming.ingest_s") if g("streaming.ingest_s") else 0.0
        ),
        "streaming.compaction_cycles": g("streaming.compaction_cycles"),
        "streaming.state_partitions": g("streaming.state_partitions"),
        "streaming.state_mb": g("streaming.state_mb"),
    }
    for name in PER_LAYER_UNITS:
        if name not in values:
            values[name] = g(name) / n
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}


def report_overhead(record: dict, path: str) -> None:
    """Tracing overhead: the traced run's end-to-end figures against the
    untraced run of the same workload and seed, when one exists."""
    if not os.path.exists(path):
        print(f"tracing overhead: no untraced record at {os.path.relpath(path, ROOT)}; "
              "run --trace 0 with this seed first")
        return
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    for k, v in record["end_to_end"].items():
        b = base[k]["value"]
        if b:
            print(f"tracing overhead {k}: {v['value']:.4g} traced vs {b:.4g} untraced "
                  f"({(v['value'] / b - 1) * 100:+.1f}%)")


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "flink_snappydata_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Everything Spark, its Python workers and tempfile write stays in
    # the checkout.
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from workloads import WORKLOADS

    bench = Bench(args, run_dir)
    try:
        bench.start()
        workload = WORKLOADS[args.workload]
        if args.workload == "stream_ingest":
            bench.run_stream(workload.min_passes)
        else:
            bench.run_queries(workload.ops, workload.min_passes)
        self_times = bench.tracer.self_times()
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in bench.problems:
        print(f"MISMATCH {p}", file=sys.stderr)
    if not bench.latencies:
        print("perfbench: no timed op completed", file=sys.stderr)
        return 1
    lat = bench.latencies
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "cores": args.cores,
        "timed_ops": len(lat),
        "timed_s": sum(lat),
        "setup": bench.setup,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "error_rate": bench.failed / bench.attempted,
        "problems": bench.problems,
        "end_to_end": bench.end_to_end(),
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        span_path = os.path.join(WORK, "traces", f"{stem}.json")
        bench.tracer.write(span_path, {k: record[k] for k in ("workload", "seed", "cores")})
        print(f"spans: {len(bench.tracer.spans)} written to {os.path.relpath(span_path, ROOT)}")
        for name, s in sorted(self_times.items(), key=lambda kv: -kv[1]):
            print(f"self time {name}: {s:.3f} s")
        record["per_layer"] = per_layer(bench.layer, bench.setup, lat, args.cores)
        report_overhead(record, os.path.join(results, f"{stem}-trace0.json"))
    with open(os.path.join(results, f"{stem}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("record:", json.dumps({k: v for k, v in record.items() if k not in ("end_to_end", "per_layer")}))
    correct = not bench.problems
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": record["per_layer" if args.trace else "end_to_end"],
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
