"""Runs one workload in one Spark session and turns what it did into the
benchmark's metrics.

End-to-end metrics (``--trace 0``) are taken with no wrapper installed.
The traced run (``--trace 1``) installs the wrappers of ``tracing.py`` for
the timed loop only and reports the per-layer metrics. Counters come from
public surfaces outside the package: ``explain_query``,
``store.all_references()``, ``os.stat`` on the table directory, Spark job
groups read back through ``statusTracker``, and ``cache_info()`` of the
bloom LRU.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time
import zlib
from contextlib import contextmanager

import numpy as np

from perfbench.stats import OpLog, percentile
from perfbench.tracing import Tracer, install, wrapper_cost_s
from perfbench.workloads import TIMED_KINDS, WORKLOADS, table_bytes

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_ms", "ms"),
    ("write_amp", "ratio"),
    ("space_amp", "ratio"),
    ("driver_rss_mb", "MB"),
]

_LAYER_TIMES = [
    "ingest.write_sorted_files.s",
    "sketches.write_sidecars_distributed.s",
    "sketches.find_subrange_cuts.s",
    "statestore.add_files.s",
    "statestore.assign_job_ids_batch.s",
    "statestore.replace_file_references_batch.s",
    "statestore.refresh_if_stale.s",
    "statestore.files_for_leaf_query.s",
    "compaction.create_jobs.s",
    "compaction.run_jobs_arrow.self_s",
    "query.split_into_leaf_queries.s",
    "query.file_may_contain_keys.s",
    "query.execute.s",
    "query.action.s",
    "query.sorted_row_iterator.s",
]
_LAYER_COUNTS = [
    ("ingest.files_written", "count"),
    ("ingest.spark_jobs", "count"),
    ("sketches.sidecar_bytes", "B"),
    ("statestore.commits", "count"),
    ("statestore.log_bytes", "B"),
    ("compaction.jobs", "count"),
    ("compaction.tasks", "count"),
    ("compaction.input_files", "count"),
    ("compaction.rows_in", "count"),
    ("compaction.rows_out", "count"),
    ("compaction.bytes_rewritten", "B"),
    ("query.bloom_probes", "count"),
    ("query.bloom_cache_hit_ratio", "ratio"),
    ("query.files_total", "count"),
    ("query.files_after_partition_pruning", "count"),
    ("query.files_after_bloom", "count"),
    ("query.bloom_prune_ratio", "ratio"),
    ("query.rows_examined_per_row_returned", "ratio"),
]
#: counters reported per round of the timed loop (README.md)
_PER_ROUND_COUNTS = [
    "ingest.files_written", "sketches.sidecar_bytes", "statestore.commits",
    "statestore.log_bytes", "compaction.jobs", "compaction.input_files",
    "compaction.rows_in", "compaction.rows_out", "compaction.bytes_rewritten",
    "query.bloom_probes",
]
PER_LAYER = (
    [(n, "s") for n in _LAYER_TIMES] + _LAYER_COUNTS
    + [(f"spark.jobs_per_op.{k}", "count") for k in TIMED_KINDS]
    + [(f"spark.tasks_per_op.{k}", "count") for k in TIMED_KINDS]
    + [(f"driver.cpu_s_per_op.{k}", "s") for k in TIMED_KINDS]
    + [(f"driver.wall_s_per_op.{k}", "s") for k in TIMED_KINDS]
    + [("trace.op_coverage", "ratio"), ("trace.overhead_ratio", "ratio"),
       ("trace.ops_per_s", "1/s")]
)


def start_spark(work_dir: str, cores: int):
    """A local session sized for a small box. Scratch space, the JVM's
    temp dir and the warehouse live under ``work_dir``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "wh"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Context:
    """What a workload needs: the session, seeded generators, the op log,
    the set-up timer and the timed window. ``instruments`` is set only in
    the traced run."""

    def __init__(self, spark, seed: int, seconds: float, work_dir: str,
                 instruments: "Instruments | None" = None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.instruments = instruments
        self.ops = OpLog(hooks=instruments.hooks() if instruments else [])
        self.setup_times: list[float] = []
        self.gen_bytes = 0
        self.amp: dict[str, float] | None = None
        self.table = None
        self.rounds = 0
        self.timed = False
        self.timed_start = self.timed_end = None

    def rng(self, stream: str) -> np.random.Generator:
        return np.random.default_rng([self.seed, zlib.crc32(stream.encode())])

    def table_dir(self, name: str) -> str:
        return os.path.join(self.work_dir, "tables", name)

    def generated(self, nbytes: int) -> None:
        self.gen_bytes += nbytes

    @contextmanager
    def setup_step(self):
        t0 = time.perf_counter()
        yield
        self.setup_times.append(time.perf_counter() - t0)

    def start_timed(self, table) -> None:
        self.table = table
        if self.instruments:
            self.instruments.begin(table)
        self.timed = True
        self._cpu0 = host_cpu_ticks()
        self.timed_start = time.perf_counter()

    def time_is_up(self) -> bool:
        """Checked between rounds: a round that has started is finished,
        so every run does whole rounds of the same operation mix. Write
        and space amplification are taken after the first round, so they
        do not depend on how many rounds a slow or fast host fits in."""
        if self.rounds == 1 and self.amp is None:
            self.amp = self._amplification()
        up = time.perf_counter() - self.timed_start >= self.seconds
        if not up:
            self.rounds += 1
        return up

    def stop_timed(self) -> None:
        self.timed_end = time.perf_counter()
        self.steal_share = steal_share(self._cpu0, host_cpu_ticks())
        self.timed = False
        if self.instruments:
            self.instruments.end()

    def _amplification(self) -> dict[str, float]:
        refs = {r.filename for r in self.table.store.all_references()}
        return {
            "write_amp": table_bytes(self.table.path) / self.gen_bytes,
            "space_amp": sum(os.path.getsize(f) for f in refs)
            / self.gen_bytes,
        }

    @property
    def timed_wall(self) -> float:
        return self.timed_end - self.timed_start

    def action(self, df):
        """Run the Spark action of a read; in the traced run it is the
        ``query.action`` span."""
        if self.instruments:
            with self.instruments.tracer.span("query.action"):
                return df.collect()
        return df.collect()

    def explain(self, table, query, rows_returned) -> None:
        if self.instruments and self.timed:
            self.instruments.explain(table, query, rows_returned())


class Instruments:
    """Everything the traced run adds: wrappers, one Spark job group per
    operation, per-operation driver CPU, and ``explain_query`` counts."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracer = Tracer()
        self.counts: dict[str, float] = {}
        self.groups: list[tuple[str, str]] = []
        self.cpu: dict[str, float] = {}
        self.explained = {"queries": 0, "files_total": 0, "after_part": 0,
                          "after_vr": 0, "after_bloom": 0, "rows_ub": 0,
                          "rows_returned": 0}
        self.cache_excluded = [0, 0]
        self._uninstall = None
        self._op_seq = 0

    def add(self, name: str, v: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + v

    # -- hooks around each operation -------------------------------------
    def hooks(self):
        return [self._op_span, self._job_group, self._cpu]

    @contextmanager
    def _op_span(self, kind):
        self._op_seq += 1
        self.tracer.op_id = self._op_seq
        try:
            with self.tracer.span(f"op.{kind}"):
                yield
        finally:
            self.tracer.op_id = None

    @contextmanager
    def _job_group(self, kind):
        gid = f"perfbench-op-{len(self.groups)}"
        self.groups.append((gid, kind))
        self.sc.setJobGroup(gid, kind)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-between-ops", "checks")

    @contextmanager
    def _cpu(self, kind):
        r0 = resource.getrusage(resource.RUSAGE_SELF)
        try:
            yield
        finally:
            r1 = resource.getrusage(resource.RUSAGE_SELF)
            self.cpu[kind] = self.cpu.get(kind, 0.0) + (
                (r1.ru_utime - r0.ru_utime) + (r1.ru_stime - r0.ru_stime))

    # -- the timed window --------------------------------------------------
    def begin(self, table) -> None:
        from sleeper_spark import compaction, ingest, query, sketches, \
            statestore

        self.table = table
        self.bloom_info0 = query._bloom_read.cache_info()
        self.seq0 = table.store.current_seq
        self.log_bytes0 = table_bytes(table.store.path)
        self.sidecar_bytes0 = self._sidecar_bytes()
        store = statestore.StateStore
        functions = {
            (ingest, "write_sorted_files"): "ingest.write_sorted_files",
            (sketches, "write_sidecars_distributed"):
                "sketches.write_sidecars_distributed",
            (sketches, "find_subrange_cuts"): "sketches.find_subrange_cuts",
            (compaction, "create_jobs"): "compaction.create_jobs",
            (compaction, "run_jobs_arrow"): "compaction.run_jobs_arrow",
            (query, "file_may_contain_keys"): "query.file_may_contain_keys",
            (query, "sorted_row_iterator"): "query.sorted_row_iterator",
        }
        methods = {
            (store, m): f"statestore.{m}" for m in (
                "add_files", "assign_job_ids_batch",
                "replace_file_references_batch", "refresh_if_stale",
                "files_for_leaf_query")
        }
        methods[(query.QueryPlanner, "split_into_leaf_queries")] = \
            "query.split_into_leaf_queries"
        methods[(query.QueryExecutor, "execute")] = "query.execute"
        self._uninstall = install(self.tracer, functions, methods, {
            "ingest.write_sorted_files": self._on_write_sorted,
            "compaction.create_jobs": self._on_create_jobs,
            "compaction.run_jobs_arrow": self._on_run_jobs,
            "query.file_may_contain_keys":
                lambda r, a, k: self.add("query.bloom_probes", 1),
        })

    def end(self) -> None:
        from sleeper_spark import query

        self._uninstall()
        info = query._bloom_read.cache_info()
        hits = info.hits - self.bloom_info0.hits - self.cache_excluded[0]
        misses = (info.misses - self.bloom_info0.misses
                  - self.cache_excluded[1])
        self.counts["query.bloom_cache_hit_ratio"] = (
            hits / (hits + misses) if hits + misses else 0.0)
        store = self.table.store
        self.counts["statestore.commits"] = store.current_seq - self.seq0
        self.counts["statestore.log_bytes"] = (
            table_bytes(store.path) - self.log_bytes0)
        self.counts["sketches.sidecar_bytes"] = (
            self._sidecar_bytes() - self.sidecar_bytes0)

    def _sidecar_bytes(self) -> int:
        from sleeper_spark.sketches import SKETCH_SUFFIX

        total = 0
        for root, _d, files in os.walk(self.table.data_dir):
            for f in files:
                if f.endswith(SKETCH_SUFFIX):
                    total += os.path.getsize(os.path.join(root, f))
        return total

    def _on_write_sorted(self, refs, args, kwargs):
        self.add("ingest.files_written", len(refs))

    def _on_create_jobs(self, jobs, args, kwargs):
        rows = {r.filename: r.number_of_rows
                for r in args[0].all_references()}
        self.add("compaction.jobs", len(jobs))
        self.add("compaction.input_files",
                 sum(len(j.input_files) for j in jobs))
        self.add("compaction.rows_in",
                 sum(rows.get(f, 0) for j in jobs for f in j.input_files))

    def _on_run_jobs(self, refs, args, kwargs):
        self.add("compaction.rows_out", sum(r.number_of_rows for r in refs))
        self.add("compaction.bytes_rewritten",
                 sum(os.path.getsize(f) for f in {r.filename for r in refs}))

    def explain(self, table, query, rows_returned: int) -> None:
        from sleeper_spark.query import _bloom_read

        i0 = _bloom_read.cache_info()
        with self.tracer.suspended():
            ex = table.explain_query(query)
        i1 = _bloom_read.cache_info()
        self.cache_excluded[0] += i1.hits - i0.hits
        self.cache_excluded[1] += i1.misses - i0.misses
        e = self.explained
        e["queries"] += 1
        e["files_total"] += ex["files_total"]
        e["after_part"] += ex["files_after_partition_pruning"]
        e["after_vr"] += ex["files_after_value_skipping"]
        e["after_bloom"] += ex["files_after_bloom"]
        e["rows_ub"] += ex["rows_upper_bound"]
        e["rows_returned"] += rows_returned

    # -- results -------------------------------------------------------------
    def spark_jobs(self) -> tuple[dict, dict]:
        """Jobs and completed tasks per operation kind, read back from the
        job groups once the run is over (the listener bus is
        asynchronous)."""
        tracker = self.sc.statusTracker()
        jobs: dict[str, int] = {}
        tasks: dict[str, int] = {}
        for gid, kind in self.groups:
            for jid in tracker.getJobIdsForGroup(gid):
                jobs[kind] = jobs.get(kind, 0) + 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks[kind] = tasks.get(kind, 0) + st.numCompletedTasks
        return jobs, tasks

    def metrics(self, ctx) -> dict[str, float]:
        t = self.tracer
        rounds = max(ctx.rounds, 1)
        out: dict[str, float] = {}
        for name in _LAYER_TIMES:
            span = name.rsplit(".", 1)[0]
            secs = (t.self_total(span) if name.endswith(".self_s")
                    else t.total(span))
            out[name] = secs / rounds
        jobs, tasks = self.spark_jobs()
        n_ops = {k: len(ctx.ops.of(k)) for k in TIMED_KINDS}
        for name in _PER_ROUND_COUNTS:
            out[name] = self.counts.get(name, 0) / rounds
        out["query.bloom_cache_hit_ratio"] = \
            self.counts["query.bloom_cache_hit_ratio"]
        out["ingest.spark_jobs"] = jobs.get("ingest", 0) / rounds
        out["compaction.tasks"] = tasks.get("compact", 0) / rounds
        e = self.explained
        q = max(e["queries"], 1)
        out["query.files_total"] = e["files_total"] / q
        out["query.files_after_partition_pruning"] = e["after_part"] / q
        out["query.files_after_bloom"] = e["after_bloom"] / q
        out["query.bloom_prune_ratio"] = (
            (e["after_vr"] - e["after_bloom"]) / e["after_vr"]
            if e["after_vr"] else 0.0)
        out["query.rows_examined_per_row_returned"] = (
            e["rows_ub"] / max(e["rows_returned"], 1))
        for k in TIMED_KINDS:
            n = n_ops[k]
            out[f"spark.jobs_per_op.{k}"] = jobs.get(k, 0) / n if n else 0.0
            out[f"spark.tasks_per_op.{k}"] = tasks.get(k, 0) / n if n else 0.0
            out[f"driver.cpu_s_per_op.{k}"] = (
                self.cpu.get(k, 0.0) / n if n else 0.0)
            out[f"driver.wall_s_per_op.{k}"] = (
                sum(r.seconds for r in ctx.ops.of(k)) / n if n else 0.0)
        op_spans = [s for s in t.closed() if s.name.startswith("op.")
                    and s.name[3:] in TIMED_KINDS]
        out["trace.op_coverage"] = (
            sum(s.end - s.start for s in op_spans) / ctx.timed_wall)
        out["trace.overhead_ratio"] = (
            wrapper_cost_s() * len(t.spans) / ctx.timed_wall)
        out["trace.ops_per_s"] = ops_per_s(ctx.ops)
        return out


def host_cpu_ticks() -> list[int] | None:
    """The aggregate ``cpu`` line of ``/proc/stat`` (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(t0, t1) -> float | None:
    """Share of CPU time the hypervisor took from this VM between two
    ``host_cpu_ticks`` readings (the 8th field is steal). It explains a
    run that is slow for reasons outside the program."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    total = sum(t1) - sum(t0)
    return (t1[7] - t0[7]) / total if total else None


def ops_per_s(ops: OpLog) -> float:
    recs = [r for r in ops.of(*TIMED_KINDS) if r.ok]
    busy = sum(r.seconds for r in recs)
    return len(recs) / busy if busy else 0.0


def workload_report(ctx) -> dict:
    """The end-to-end metrics plus the per-operation-kind figures, which
    the final line carries only in part (see README.md)."""
    ops = ctx.ops
    timed = [r.seconds for r in ops.of(*TIMED_KINDS) if r.ok]
    e2e = {
        "setup_s": statistics.median(ctx.setup_times),
        "ops_per_s": ops_per_s(ops),
        "op_p50_ms": percentile(timed, 0.5) * 1000.0 if timed else 0.0,
        **ctx.amp,
        "driver_rss_mb":
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    from perfbench.stats import latency_summary

    kinds = {}
    for k in TIMED_KINDS:
        recs = ops.of(k)
        if not recs:
            continue
        lat = latency_summary(ops.latencies(k))
        kinds[k] = {"attempted": len(recs),
                    "failed": sum(not r.ok for r in recs),
                    "units_per_s": ops.rate(k), **lat}
    detail = {
        "ingest_rows_per_s": ops.rate("ingest") if "ingest" in kinds else None,
        "compact_rows_per_s":
            ops.rate("compact") if "compact" in kinds else None,
        "batch_lookup_keys_per_s":
            ops.rate("batch_point") if "batch_point" in kinds else None,
        "sorted_rows_per_s":
            ops.rate("sorted_rows") if "sorted_rows" in kinds else None,
        "failed_ops_ratio": ops.failed / ops.attempted,
        "rounds": ctx.rounds,
        "timed_wall_s": ctx.timed_wall,
        "cpu_steal_ratio": ctx.steal_share,
        "setup_steps_s": ctx.setup_times,
    }
    for k, name in (("point", "point"), ("range", "range")):
        if k in kinds:
            detail[f"{name}_p50_ms"] = kinds[k]["p50_ms"]
            detail[f"{name}_p90_ms"] = kinds[k]["p90_ms"]
            detail[f"{name}_samples"] = kinds[k]["n"]
    return {"e2e": e2e, "detail": detail, "kinds": kinds}


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 work_dir: str, cores: int, spans_path: str):
    """Returns (ctx, report, per-layer metrics or None). The traced run
    writes its spans to ``spans_path``."""
    t0 = time.perf_counter()
    spark = start_spark(work_dir, cores)
    t1 = time.perf_counter()
    try:
        instruments = Instruments(spark) if trace else None
        ctx = Context(spark, seed, seconds, work_dir, instruments)
        WORKLOADS[name](ctx)
        t2 = time.perf_counter()
        report = workload_report(ctx)
        # where a run's wall time goes, for sizing the workloads
        report["detail"].update(
            spark_start_s=t1 - t0,
            before_timed_s=ctx.timed_start - t1,
            after_timed_s=t2 - ctx.timed_end)
        layers = instruments.metrics(ctx) if instruments else None
        if instruments:
            instruments.tracer.dump(spans_path)
        shutil.rmtree(os.path.join(work_dir, "tables"), ignore_errors=True)
        return ctx, report, layers
    finally:
        stop_spark(spark)
