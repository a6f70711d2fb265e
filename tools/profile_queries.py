#!/usr/bin/env python3
"""Per-query layer profile of registered queries, read from Spark's event log.

Run from anywhere:

    python3 tools/profile_queries.py bm25_search,regional_revenue \\
        [--sf-dir perfbench/data/sf0.1] [--cpus N] [--passes 2] [--out profile.json]

One session (``session.get_spark`` on ``local[N]``) with an uncompressed,
single-file event log, warmed as ``bench.py`` warms its own: every table is
read once and the Python workers are started. Each pass then runs the named
queries in the given order: ``clearCache``, the build (``REGISTRY[q].fn``)
and a noop-sink execute, under the job groups ``queries.<q>/build`` and
``queries.<q>/exec``. Once the session has stopped, ``perfbench/eventlog.py``'s
``fold`` runs over each query's window in each pass, so every job, task,
shuffle byte and GC millisecond goes to the query that launched it.

Per query the JSON holds the median over passes of ``build_s`` and
``exec_s`` (driver wall seconds, with the per-pass samples), the fold's
``queries.build_jobs``, ``queries.plan_s`` (exec call to first job),
``queries.{build,exec}.*`` executor, shuffle, spill, GC, skew and core-use
metrics and ``functions.udf_*``, and ``queries.persisted_rdds``: the
persisted RDDs the query itself leaves behind (the ids in
``getPersistentRDDs()`` after its execute that were not there before its
build, the largest count over passes), so a query is not charged for
what an earlier one left. A query that raises is reported with its error
and left out of later passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import eventlog, procstat  # noqa: E402

WARM_TABLES = ["lineitem", "orders", "customer", "events", "documents", "embeddings"]


def _now_ms() -> float:
    return time.time() * 1e3


def fold_queries(log: str, runs: list[tuple[eventlog.Span, eventlog.Span]], cores: int) -> dict[str, dict]:
    """Fold the event log once per (build, exec) span pair, over that pair's
    window, and give each query the median of each metric over its pairs."""
    folds: dict[str, list[dict[str, float]]] = {}
    for build, run in runs:
        folded, _ = eventlog.fold(log, [build, run], (build.start_ms, run.end_ms), cores, 1)
        walls = {"build_s": (build.end_ms - build.start_ms) / 1e3, "exec_s": (run.end_ms - run.start_ms) / 1e3}
        layers = {k: v for k, v in folded.items() if k.startswith(("queries.", "functions.udf_"))}
        folds.setdefault(build.call, []).append({**walls, **layers})
    out = {}
    for q, passes in folds.items():
        out[q] = {
            "build_samples": [round(p["build_s"], 3) for p in passes],
            "exec_samples": [round(p["exec_s"], 3) for p in passes],
            **{k: statistics.median(p[k] for p in passes) for k in passes[0]},
        }
    return out


def start_spark(events_dir: str, cpus: int):
    """The engine's session, its event log written uncompressed to one file
    (the conf perfbench/run.py traces with)."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    from namegraph_collections_spark.session import get_spark

    return get_spark("ngcs-profile", cpus=cpus)


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
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


def warm(spark, sf_dir: str) -> None:
    """bench.py's warm-up: touch every table, start the Python UDF workers."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    for t in WARM_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            continue
        try:
            spark.read.parquet(path).count()
        except Exception:  # events needs nanosAsLong, which its queries set
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.read.parquet(path).count()

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(1000).select(_warm(F.col("id"))).count()


def persisted_rdd_ids(sc) -> set[int]:
    """Ids of the RDDs the context holds persisted (cached or checkpointed)."""
    return set(sc._jsc.getPersistentRDDs().keySet())


def profile(spark, names: list[str], sf_dir: str, passes: int):
    """Run the passes; return the (build, exec) span pairs, the count of
    persisted RDDs each query left, and the error of each query that raised."""
    from namegraph_collections_spark.queries import REGISTRY

    sc = spark.sparkContext
    runs: list[tuple[eventlog.Span, eventlog.Span]] = []
    persisted: dict[str, list[int]] = {q: [] for q in names}
    errors: dict[str, str] = {}

    def timed(q: str, phase: str, fn):
        sc.setJobGroup("profile", f"queries.{q}/{phase}")
        t0 = _now_ms()
        out = fn()
        return out, eventlog.Span("queries", q, phase, t0, _now_ms())

    for _ in range(passes):
        for q in names:
            if q in errors:
                continue
            try:
                spark.catalog.clearCache()
                before = persisted_rdd_ids(sc)
                df, build = timed(q, "build", lambda: REGISTRY[q].fn(spark, sf_dir))
                _, run = timed(q, "exec", lambda: df.write.format("noop").mode("overwrite").save())
            except Exception as e:  # noqa: BLE001 — one failing query must not lose the others
                traceback.print_exc()
                errors[q] = f"{type(e).__name__}: {e}"
                continue
            runs.append((build, run))
            persisted[q].append(len(persisted_rdd_ids(sc) - before))
    return runs, persisted, errors


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", help="comma-separated registered query names")
    ap.add_argument("--sf-dir", default=os.path.join(REPO, "perfbench", "data", "sf0.1"))
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--out", help="also write the JSON here")
    args = ap.parse_args()

    from namegraph_collections_spark.queries import REGISTRY

    names = [q for q in args.queries.split(",") if q]
    unknown = [q for q in names if q not in REGISTRY]
    if unknown or not names or args.passes < 1:
        print(f"profile: unknown queries {unknown}" if unknown else "profile: nothing to run", file=sys.stderr)
        return 2

    run_dir = tempfile.mkdtemp(prefix="ngcs-profile-")
    events_dir = os.path.join(run_dir, "events")
    os.makedirs(events_dir)
    # ensure_package_shipped zips the package under tempfile's directory
    tempfile.tempdir = run_dir
    try:
        spark = start_spark(events_dir, args.cpus)
        try:
            warm(spark, args.sf_dir)
            runs, persisted, errors = profile(spark, names, args.sf_dir, args.passes)
        finally:
            stop_spark(spark)  # also flushes the event log
        (log,) = os.listdir(events_dir)
        rows = fold_queries(os.path.join(events_dir, log), runs, args.cpus)
    finally:
        tempfile.tempdir = None
        shutil.rmtree(run_dir, ignore_errors=True)

    for q, counts in persisted.items():
        if q in rows:
            rows[q]["queries.persisted_rdds"] = max(counts)
    result = {
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "passes": args.passes,
        "queries": {q: {**rows.get(q, {}), **({"error": errors[q]} if q in errors else {})} for q in names},
    }
    text = json.dumps(result, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text + "\n")
    print(text)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
