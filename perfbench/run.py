#!/usr/bin/env python3
"""End-to-end benchmark of the namegraph_collections_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 5 --trace 0

One run starts a fresh Spark session sized to the host, prepares its
inputs (the seed drives the query order and the generated sync data),
runs the cold first pass and the warm-up (the set-up), then times whole
passes for at least ``--seconds`` seconds and at least two passes with
one driver thread (a closed loop with one client), checks the outputs
and prints one JSON object as the last line of stdout. ``--trace 0``
prints the end-to-end metrics named in BENCHMARK.json; ``--trace 1`` is
a separate run with Spark's event log on and every call tagged with a
job group, and prints the per-layer metrics. See README.md in this
directory for the workloads and the metric definitions.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(1, ROOT)

import eventlog  # noqa: E402
import inputs  # noqa: E402
import procstat  # noqa: E402

SHORT_QUERIES = [
    "bm25_search",
    "search_ltr_rescore",
    "multifield_bm25_variants",
    "search_eval_metrics",
    "suffix_mining",
    "command_driven_sorts",
    "letter_range_normalize",
    "cdc_snapshot_ops",
    "pricing_summary",
    "regional_revenue",
]
# the engine's sf0.1 test tables, copied byte for byte (README.md)
SHORT_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
SHORT_WARMUP_PASSES = 1
SYNC_ROWS = 400_000
SYNC_CHURN = 0.02  # share of live rows deleted, updated and created per generation (each)
SYNC_WARMUP_STEPS = 2
# timed passes per run, at the least, whatever --seconds says: a fixed count
# keeps every run on the same stretch of the warm-up curve, and a burst of host
# contention during one pass moves the median over passes and queries less
SHORT_TIMED_PASSES = 2
SYNC_TIMED_STEPS = 2
SYNC_KEEP_SNAPSHOTS = 2
NAMEHASH_NAMES = 300


def _now_ms() -> float:
    return time.time() * 1e3


def result_digest(cols: list[str], rows: list[tuple]) -> tuple[list[str], int, str]:
    """Sorted column names, row count and a hash of the oracle harness's canonical rows."""
    from tests.oracle_harness import canon_rows

    cols, canon = canon_rows(cols, rows)
    return cols, len(canon), hashlib.sha256(repr(canon).encode()).hexdigest()


def quantile(values: list[float], q: int) -> float:
    """The q-th decile of ``values`` (inclusive method; one value returns itself)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[q - 1]


class Bench:
    """One run: a fresh Spark session, its spans and its counters."""

    def __init__(self, args: argparse.Namespace, run_dir: str, shm_dir: str | None) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.run_dir = run_dir
        self.shm_dir = shm_dir
        self.cores = len(os.sched_getaffinity(0))
        self.spans: list[eventlog.Span] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.spark = None

    def path(self, *parts: str) -> str:
        """A path under the run directory, its parent created; a trailing "" names a directory."""
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def start_spark(self) -> None:
        """Launch a Spark session sized to this host. Spark's shuffle scratch
        goes where the engine puts it by default (tmpfs), in a directory of
        this run; everything else the run writes stays in the run directory."""
        tmp = self.path("tmp", "")
        mem_gb = max(1, min(4, os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**30 // 4))
        os.environ.update({"SPARK_GRAFT_CPUS": str(self.cores), "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g", "TMPDIR": tmp})
        os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
        if self.shm_dir:
            os.environ["SPARK_GRAFT_LOCAL_DIR"] = self.shm_dir
        else:
            os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
        # ensure_package_shipped zips the package under tempfile's directory
        tempfile.tempdir = tmp
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse", ""),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("events", ""),
                    # Spark 4 compresses event logs with zstd by default
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",  # one file
                }
            )
        args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
        from namegraph_collections_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark("perfbench")
        self.layer["session.start_s"] = time.time() - t0

    def stop_spark(self) -> None:
        """Stop the session, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits at end of its stdin
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while procstat.descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid in procstat.descendants():
            os.kill(pid, 9)

    def retained_heap_mb(self) -> float:
        """Driver JVM heap in use once everything the session no longer references
        is freed: what it keeps (persisted RDDs, broadcasts, caches), whenever G1
        last collected. Python's collector first drops the py4j proxies that pin
        JVM objects; the JVM's full collection then lets Spark's ContextCleaner
        unpersist unreachable RDDs, which frees more at a later round."""
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        readings: list[float] = []
        while len(readings) < 20:
            gc.collect()
            jvm.java.lang.System.gc()
            time.sleep(0.25)  # the cleaner thread polls its reference queue every 0.1 s
            readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
            # the cleaner's unpersist can land a few rounds late: wait for four steady readings
            if len(readings) >= 6 and max(readings[-4:]) - min(readings[-4:]) < 1.0:
                break
        return readings[-1]

    def call(self, module: str, call: str, phase: str, fn):
        """Run one call into the engine as a span; tag its jobs when tracing."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(self.workload, f"{module}.{call}/{phase}")
        t0 = _now_ms()
        try:
            return fn()
        finally:
            self.spans.append(eventlog.Span(module, call, phase, t0, _now_ms()))

    def run_op(self, op) -> float | None:
        """Run one operation; return its wall seconds, or None if it raised."""
        self.attempted += 1
        t0 = time.time()
        try:
            op()
        except Exception:  # counted in error_rate; the run goes on
            traceback.print_exc()
            self.failed += 1
            return None
        return time.time() - t0

    def run_pass(self, ops) -> tuple[float, float, list[tuple[str, float]]]:
        """Run a pass of (label, op) pairs; return its wall and tree CPU
        seconds and the label and wall of each op that completed."""
        c0, t0 = procstat.tree_cpu_s(), time.time()
        done = [(label, wall) for label, wall in ((label, self.run_op(op)) for label, op in ops) if wall is not None]
        return time.time() - t0, procstat.tree_cpu_s() - c0, done


class ShortQueries:
    """Ten 0.3-2 s registered queries in a seeded order per pass."""

    name = "short_queries"
    warmup_passes = SHORT_WARMUP_PASSES
    timed_passes = SHORT_TIMED_PASSES
    tables = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents"]

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.data = SHORT_DATA
        self.rows = 0
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}  # collected by the last warm-up pass
        self.persisted: list[int] = []  # persisted RDDs after each query, when tracing

    def setup_inputs(self) -> None:
        """Count the rows of the tables the ten queries read."""
        import pyarrow.parquet as pq

        self.rows = sum(pq.read_metadata(os.path.join(self.data, f"{t}.parquet")).num_rows for t in self.tables)

    def _query(self, name: str, collect: bool):
        from namegraph_collections_spark.queries import REGISTRY

        b = self.b

        def op() -> None:
            b.spark.catalog.clearCache()
            df = b.call("queries", name, "build", lambda: REGISTRY[name].fn(b.spark, self.data))
            if collect:
                rows = b.call("queries", name, "exec", lambda: [tuple(r) for r in df.collect()])
                self.results[name] = (df.columns, rows)
            else:
                b.call("queries", name, "exec", lambda: df.write.format("noop").mode("overwrite").save())
            if b.trace:
                self.persisted.append(b.spark.sparkContext._jsc.getPersistentRDDs().size())

        return op

    def next_pass(self, collect: bool = False):
        order = SHORT_QUERIES[:]
        self.b.rng.shuffle(order)
        return [(q, self._query(q, collect)) for q in order]

    def prepare(self) -> None:
        pass

    def check(self) -> None:
        """Compare each result of the last warm-up pass with its registry DuckDB oracle."""
        from namegraph_collections_spark.queries import REGISTRY
        from tests.oracle_harness import duck_connection

        os.environ["SPARK_GRAFT_DUCK_MEM"] = "1GB"
        con = duck_connection(self.data)
        try:
            for name, (cols, rows) in self.results.items():
                rel = con.sql(REGISTRY[name].oracle)
                expected = result_digest(list(rel.columns), rel.fetchall())
                if result_digest(cols, rows) != expected:
                    print(f"perfbench: {name} differs from its oracle", file=sys.stderr)
                    self.b.failed += 1
        finally:
            con.close()
        missing = set(SHORT_QUERIES) - set(self.results)
        if missing:  # their warm-up query raised and was already counted
            print(f"perfbench: no result to check for {sorted(missing)}", file=sys.stderr)

    def finish_layers(self, timed: list[eventlog.Span], n_ops: int, written: dict[str, list[float]]) -> None:
        layer = self.b.layer
        for phase in ("build", "exec"):
            walls = [s.end_ms - s.start_ms for s in timed if s.module == "queries" and s.phase == phase]
            layer[f"queries.{phase}_s"] = sum(walls) / 1e3 / max(1, n_ops)
        layer["queries.persisted_rdds"] = max(self.persisted[-n_ops:], default=0)
        names = [f"customer{k}.eth" for k in range(NAMEHASH_NAMES)]
        layer["functions.namehash_us"] = namehash_us(names)


class IncrementalSync:
    """Snapshot sync of collection documents: diff, land the ops, prune."""

    name = "incremental_sync"
    warmup_passes = SYNC_WARMUP_STEPS
    timed_passes = SYNC_TIMED_STEPS
    compare_cols = ["collection_name", "members_count", "collection_rank", "keywords_csv",
                    "top_members_csv", "is_merged", "version"]

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.store = bench.path("store")
        self.rows = SYNC_ROWS

    def gen_path(self, g: int) -> str:
        return self.b.path("gens", f"g{g}.parquet")

    def ops_path(self, g: int) -> str:
        return self.b.path("ops", f"b{g}")

    def setup_inputs(self) -> None:
        self.stream = inputs.SyncStream(self.b.seed, SYNC_ROWS, SYNC_CHURN)
        self.stream.write(self.gen_path(0))

    def prepare(self) -> None:
        """Make the next generation and drop files no later step reads (untimed)."""
        g = self.stream.generation
        self.stream.advance()
        self.stream.write(self.gen_path(g + 1))
        os.remove(self.gen_path(g))
        shutil.rmtree(self.ops_path(g - 1), ignore_errors=True)

    def _step(self):
        from namegraph_collections_spark.operators.cdc import prune_snapshots, sync_index, write_operations_jsonl

        b, g = self.b, self.stream.generation
        spark = b.spark

        def op() -> None:
            ops = b.call(
                "operators", "sync_index", "exec",
                lambda: sync_index(spark.read.parquet(self.gen_path(g)), self.store, f"b{g}",
                                   inputs.SyncStream.KEY, self.compare_cols),
            )
            b.call("operators", "write_operations_jsonl", "exec", lambda: write_operations_jsonl(ops, self.ops_path(g)))
            b.call("operators", "prune_snapshots", "exec", lambda: prune_snapshots(spark, self.store, SYNC_KEEP_SNAPSHOTS))

        return op

    def next_pass(self, collect: bool = False):
        return [(f"step{self.stream.generation}", self._step())]

    def check(self) -> None:
        """The last step's ops match the generator's counts; the stored snapshot is the last generation."""
        from pyspark.sql import functions as F

        from namegraph_collections_spark.operators.cdc import latest_snapshot

        spark, g = self.b.spark, self.stream.generation
        ops = spark.read.json(self.ops_path(g)).groupBy("_op_type").count().collect()
        counts = {r["_op_type"]: r["count"] for r in ops}
        want = {k: v for k, v in self.stream.expected.items() if v}

        def digest(df):
            return df.select(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()

        stored = latest_snapshot(spark, self.store)
        if counts != want or digest(stored) != digest(spark.read.parquet(self.gen_path(g))):
            print(f"perfbench: sync step {g} ops {counts} != {want} or snapshot differs", file=sys.stderr)
            self.b.failed += 1

    def finish_layers(self, timed: list[eventlog.Span], n_ops: int, written: dict[str, list[float]]) -> None:
        layer = self.b.layer
        for call, key in (("sync_index", "sync_index_s"), ("write_operations_jsonl", "write_ops_s"),
                          ("prune_snapshots", "prune_s")):
            walls = [s.end_ms - s.start_ms for s in timed if s.call == call]
            layer[f"operators.{key}"] = sum(walls) / 1e3 / max(1, n_ops)
        layer["functions.namehash_us"] = namehash_us(self.stream.names(NAMEHASH_NAMES))
        # ops rows and write amplification from the steps' output metrics
        snap_bytes, snap_rows = written.get("sync_index", [0.0, 0.0])
        ops_bytes, ops_rows = written.get("write_operations_jsonl", [0.0, 0.0])
        changed = sum(self.stream.expected.values()) * n_ops
        row_bytes = snap_bytes / snap_rows if snap_rows else 0.0
        layer["operators.ops_rows"] = ops_rows / max(1, n_ops)
        layer["operators.write_amp"] = (snap_bytes + ops_bytes) / (changed * row_bytes) if row_bytes else 0.0


WORKLOADS = {w.name: w for w in (ShortQueries, IncrementalSync)}


def namehash_us(names: list[str]) -> float:
    """Microseconds per name of the engine's namehash, in this process."""
    from namegraph_collections_spark.functions.namehash import ens_namehash

    t0 = time.perf_counter()
    for n in names:
        ens_namehash(n)
    return (time.perf_counter() - t0) / len(names) * 1e6


def measure(b: Bench, w) -> dict:
    """Set up, time whole passes for ``b.seconds`` and at least
    ``w.timed_passes`` passes, check; return raw results."""
    t_setup = time.time()
    b.start_spark()
    w.setup_inputs()
    first_pass_s = b.run_pass(w.next_pass())[0]
    warmup = []
    for i in range(w.warmup_passes):
        w.prepare()
        warmup.append(b.run_pass(w.next_pass(collect=i == w.warmup_passes - 1))[0])
    setup_s = time.time() - t_setup

    passes, cpus, ops = [], [], []
    n_spans = len(b.spans)
    window_start = _now_ms()
    # memory is sampled from a thread of this process: only in the traced run
    with procstat.PeakRss(enabled=b.trace) as rss:
        while sum(passes) < b.seconds or len(passes) < w.timed_passes:
            rss.active = False
            w.prepare()
            rss.active = True
            wall, cpu, done = b.run_pass(w.next_pass())
            passes.append(wall)
            cpus.append(cpu)
            ops.extend(done)
    window = (window_start, _now_ms())
    retained_heap_mb = b.retained_heap_mb()
    timed_spans = b.spans[n_spans:]
    w.check()
    return {
        "setup_s": setup_s,
        "first_pass_s": first_pass_s,
        "warmup": warmup,
        "passes": passes,
        "cpus": cpus,
        "ops": ops,
        "peak_rss_mb": rss.peak_mb,
        "retained_heap_mb": retained_heap_mb,
        "window": window,
        "timed_spans": timed_spans,
    }


def end_to_end(w, raw: dict) -> dict[str, float]:
    lat = [wall for _, wall in raw["ops"]]
    return {
        "setup_s": raw["setup_s"],
        "first_pass_s": raw["first_pass_s"],
        "rows_per_s": w.rows / statistics.median(raw["passes"]),
        "latency_p50_s": quantile(lat, 5),
        "latency_p90_s": quantile(lat, 9),
        "cpu_s": statistics.median(raw["cpus"]),
        "retained_heap_mb": raw["retained_heap_mb"],
    }


def per_layer(b: Bench, w, raw: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run (call after the session has stopped)."""
    n_ops = len(raw["ops"])
    logs = os.listdir(b.path("events", ""))
    folded, written = eventlog.fold(b.path("events", logs[0]), raw["timed_spans"], raw["window"], b.cores, n_ops)
    b.layer.update(folded)
    b.layer["session.peak_rss_mb"] = raw["peak_rss_mb"]
    w.finish_layers(raw["timed_spans"], n_ops, written)
    span_s = sum(s.end_ms - s.start_ms for s in raw["timed_spans"]) / 1e3
    walls = [wall for _, wall in raw["ops"]]
    b.layer["trace.op_s"] = statistics.median(walls)
    b.layer["trace.coverage"] = span_s / sum(walls)
    return b.layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "namegraph_collections_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    host = procstat.HostState()
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench"))
    shm_dir = tempfile.mkdtemp(prefix="perfbench-", dir="/dev/shm") if os.path.isdir("/dev/shm") else None
    b = Bench(args, run_dir, shm_dir)
    w = WORKLOADS[args.workload](b)
    try:
        try:
            raw = measure(b, w)
        finally:
            b.stop_spark()  # also flushes the event log that per_layer reads
        values = per_layer(b, w, raw) if b.trace else end_to_end(w, raw)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if shm_dir:
            shutil.rmtree(shm_dir, ignore_errors=True)

    wanted = spec["per_layer"] if b.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    walls = {k: [round(x, 3) for x in raw[k]] for k in ("warmup", "passes")}
    walls["ops"] = [[label, round(wall, 3)] for label, wall in raw["ops"]]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host.summary(), **walls}))
    print(
        json.dumps(
            {"correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
