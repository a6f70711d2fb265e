"""Registry mapping query names to (Spark callable, DuckDB oracle SQL).

Contract (driver): each Spark callable takes ``(spark, sf_dir)`` and
returns a DataFrame; the oracle SQL runs on DuckDB views named after
the parquet tables. Column names must match exactly — every computed
column is aliased identically on both sides.

Determinism rules used throughout (so the order-insensitive value hash
matches):
- money/double sums go through DECIMAL(18,2)/(18,6) so both engines
  compute exact arithmetic, then cast to DOUBLE at the end;
- ratios/means with exact inputs (DECIMAL sums, counts) round in
  integer micro-units — ``(x_micro + d div 2) div d`` — and
  double-computed scores use the floor form in
  ``functions/det_round.py``; bare ``ROUND(double, 6)`` is banned
  from hash surfaces (its half-way rule is engine-specific: the
  incremental-rollup mean diverged at sf1 on 13911.3/320 being an
  exact 6-decimal half). Documented exceptions where the true value
  PROVABLY cannot land on a 6-decimal half, so every engine's half
  rule agrees: ``ROUND(price*100, 0)`` cents (integer-valued
  rational), medians of 2-decimal prices (≤3-decimal rational), and
  no-op outer rounds over already-micro-rounded quotients;
- arrays are always ``array_sort``-ed / ``list_sort``-ed;
- timestamps are emitted as epoch microseconds (BIGINT);
- every window/top-k has a total order (explicit tiebreakers);
- DECIMAL itself is NOT a hash-safe OUTPUT type (round-7 driver
  finding: the only two decimal-emitting window rows were the only
  two hash misses, values provably equal) — decimals stay internal
  to the arithmetic; hash surfaces emit exact micro-unit BIGINTs
  (``CAST(x * 1000000 AS BIGINT)`` of a ≤6-fraction-digit DECIMAL).
  Enforced by tests/test_oracle_parity.py's allowlist guard.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only check
    doc: str


REGISTRY: dict[str, QuerySpec] = {}

_SHIPPED: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make this package importable on Spark's Python workers.

    Pickled (pandas) UDFs are serialized BY REFERENCE — the worker
    re-imports ``namegraph_collections_spark`` to unpickle them. That
    works only if the package is on the worker's ``sys.path``, which
    the driver's host process can't guarantee (an external harness may
    import ``__spark_entry__`` by file path from any cwd). Shipping a
    zip via ``addPyFile`` is the cluster-correct fix — identical to
    ``spark-submit --py-files`` — and a one-time, driver-side cost per
    SparkContext. Without it, every UDF-bearing query dies with
    ModuleNotFoundError on any session whose cwd isn't the repo root.
    """
    sc = spark.sparkContext
    # Keyed on applicationId, not id(sc): a stopped-and-GC'd context's
    # id() can be reused by a fresh context, which would silently skip
    # the addPyFile this function exists to guarantee.
    if sc.applicationId in _SHIPPED:
        return
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    zip_base = os.path.join(tempfile.mkdtemp(prefix="ngc_spark_pkg_"), "namegraph_collections_spark")
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=repo_root, base_dir="namegraph_collections_spark")
    sc.addPyFile(zip_path)
    _SHIPPED.add(sc.applicationId)


def register(name: str, oracle: str | None = None):
    """Decorator: add a query to the registry (wrapped so any session —
    ours, the driver's, bench's — gets the package shipped to workers
    before the first UDF runs)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_package_shipped(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle, doc=(fn.__doc__ or "").strip())
        return fn

    return deco


#: The confs Spark 4.1's ParquetToSparkSchemaConverter reads. With a
#: file's footer they decide the schema ``spark.read.parquet`` infers.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
)
_SCHEMAS: dict[tuple[bytes, tuple[str, ...]], StructType] = {}


def _parquet_footer(path: str) -> bytes | None:
    """The footer of the single Parquet file at ``path`` (its metadata,
    length and magic), or None when Python cannot open ``path`` as one
    (a directory, a URI, a missing or non-Parquet file)."""
    try:
        with open(path, "rb") as f:
            f.seek(-8, os.SEEK_END)
            tail = f.read(8)
            if tail[4:] != b"PAR1":
                return None
            f.seek(-8 - int.from_bytes(tail[:4], "little"), os.SEEK_END)
            return f.read()
    except OSError:
        return None


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table ``name`` of ``sf_dir``, read with a memoized schema.

    ``spark.read.parquet`` infers the schema with a Spark job (~60-90
    ms); given the schema, the read runs none (~10 ms). The inferred
    schema is a pure function of the file's footer bytes and the
    converter confs, so that pair keys a per-process memo: a file
    rewritten with another schema has another footer and is inferred
    afresh. A path Python cannot open as one Parquet file is read as
    before. Each call still returns a fresh DataFrame, so self-joins
    of two reads get distinct attribute ids.
    """
    path = f"{sf_dir}/{name}.parquet"
    footer = _parquet_footer(path)
    if footer is None:
        return spark.read.parquet(path)
    key = (footer, tuple(spark.conf.get(k) for k in _PARQUET_SCHEMA_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-distribute rows on ``key`` before CPU-heavy per-row work
    (explode/md5/feature extraction).

    A small parquet table arrives as ONE input split, so without this
    the whole map side runs single-threaded; at cluster scale the same
    repartition is the co-location you want anyway (per-doc work stays
    with the doc, partial aggs meet in one shuffle). The partition
    count is pinned explicitly: AQE would coalesce the pre-explode
    exchange (it sees only the compact rows, not the fan-out after
    them) back to one partition.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(key))


def run_parallel(spark: SparkSession, *thunks):
    """Run independent thunks from a driver thread pool and return
    their results in thunk order. Every thunk runs to its end; then the
    exception of the first failed thunk, in thunk order, is re-raised.
    Each thread inherits the caller's job-local properties (job group,
    description, scheduler pool) and the session's ``addTag`` tags
    through ``inheritable_thread_target(spark)``, as the PySpark docs
    prescribe for driver-side job threads, so the jobs a thunk starts
    are attributed like the caller's own. A thunk may call
    ``run_parallel`` itself, which is how a dependency chain runs
    beside an independent build.

    Use it for builds that run jobs (iterative loops' per-round
    checkpoints, eager checkpoints) and for lazy checkpoints of
    independent frames (``lambda: df.localCheckpoint(eager=False)``):
    under AQE even a lazy checkpoint runs its subtree's shuffle-stage
    jobs at call time, so k serial checkpoints pay k serial job chains
    on the driver. Threads change only the submission schedule; the
    plans, blocks and results are the same. Thunks must not depend on
    each other: a dependent frame serializes on its parent anyway."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
        return [f.result() for f in futures]


@dataclass(frozen=True)
class Melt:
    """A long-form reshape applied to a battery leg's component before
    its slots are mapped: ``keys`` pass through, and each entry of
    ``rows`` becomes one output row per input row, labelled in
    ``names[0]`` with its expressions in ``names[1:]``. Spark runs it
    as ``stack(...)``; the oracle as a CROSS JOIN over the labels with
    one ``CASE`` per value column."""

    keys: tuple[str, ...]
    names: tuple[str, ...]
    rows: dict[str, tuple[str, ...]]

    def spark(self, df: DataFrame) -> DataFrame:
        args = ", ".join(f"'{lab}', " + ", ".join(es) for lab, es in self.rows.items())
        stack = f"stack({len(self.rows)}, {args}) AS ({', '.join(self.names)})"
        return df.selectExpr(*self.keys, stack)

    def sql(self, source: str) -> str:
        label, values = self.names[0], self.names[1:]
        cases = [
            f"CASE m.{label} "
            + " ".join(f"WHEN '{lab}' THEN {es[i]}" for lab, es in self.rows.items())
            + f" END AS {v}"
            for i, v in enumerate(values)
        ]
        labels = ", ".join(f"('{lab}')" for lab in self.rows)
        return (
            f"SELECT {', '.join([*self.keys, f'm.{label}', *cases])}\n"
            f"    FROM ({source}) CROSS JOIN (VALUES {labels}) m({label})"
        )


@dataclass(frozen=True)
class Battery:
    """A battery: registered component queries unioned into one
    ``op``-tagged, null-padded result, so one driver row value-hashes
    every component's full output.

    ``slots`` maps each output column to its SQL type; ``op`` is
    implicit and first. ``legs`` maps a tag to ``(component, cols)`` or
    ``(component, cols, Melt)``: ``cols`` maps slots to SQL expressions
    over the component's columns (an ``op`` entry replaces the tag
    literal), and every unmapped slot is a typed NULL. One expression
    string serves both engines, so it uses the dialect they share:
    INT/BIGINT/DOUBLE/STRING/BOOLEAN casts, ``IF``, ``||``, and no
    quoted identifiers.

    ``oracle()`` wraps each component's registered oracle verbatim;
    ``union()`` runs the same expressions through ``selectExpr``. So
    a battery cannot drift from its components, and its two sides
    cannot drift from each other."""

    slots: dict[str, str]
    legs: dict[str, tuple]

    def __post_init__(self):
        for tag, (_, cols, *_melt) in self.legs.items():
            unknown = set(cols) - set(self.slots) - {"op"}
            if unknown:
                raise KeyError(f"leg {tag!r} maps unknown slots {sorted(unknown)}")

    def _exprs(self, tag: str, cols: dict[str, str]) -> list[str]:
        out = [f"{cols.get('op', repr(tag))} AS op"]
        for slot, typ in self.slots.items():
            e = cols.get(slot, f"CAST(NULL AS {typ})")
            # a bare name, not `x AS x`: Catalyst would keep the no-op alias
            out.append(slot if e == slot else f"{e} AS {slot}")
        return out

    def oracle(self) -> str:
        selects = []
        for tag, (comp, cols, *melt) in self.legs.items():
            source = REGISTRY[comp].oracle
            if melt:
                source = melt[0].sql(source)
            selects.append(f"SELECT {', '.join(self._exprs(tag, cols))}\n    FROM ({source})")
        return "\n    UNION ALL\n    ".join(selects)

    def union(self, spark: SparkSession, sf_dir: str, **frames: DataFrame) -> DataFrame:
        """The Spark side. A leg absent from ``frames`` runs its
        registered component; a battery that shares builds between
        legs passes the legs built from them (the ``_from`` seams)."""
        unknown = set(frames) - set(self.legs)
        if unknown:
            raise KeyError(f"frames for unknown legs: {sorted(unknown)}")
        parts = []
        for tag, (comp, cols, *melt) in self.legs.items():
            df = frames[tag] if tag in frames else REGISTRY[comp].fn(spark, sf_dir)
            if melt:
                df = melt[0].spark(df)
            parts.append(df.selectExpr(*self._exprs(tag, cols)))
        return functools.reduce(DataFrame.unionByName, parts)


def register_battery(name: str, doc: str, slots: dict[str, str], legs: dict[str, tuple]) -> None:
    """Register a battery whose legs are all plain components."""
    battery = Battery(slots, legs)

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return battery.union(spark, sf_dir)

    run.__name__, run.__doc__ = name, doc
    register(name, oracle=battery.oracle())(run)


def ranked_topk(df: DataFrame, k: int, *order, rnk: str = "rnk") -> DataFrame:
    """Global top-k with rank numbers, without a global window.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — each
    partition keeps its own top-k and only k rows per partition reach
    the driver-side merge, so the plan scales with k, not with the
    input. Only the k survivors then get ``row_number`` (a window over
    k rows, not over the corpus). A bare global ``Window.orderBy``
    would instead shuffle EVERY row to one partition and sort it
    there — Spark's InferWindowGroupLimit does NOT rescue it (the
    rewrite fires only for windows WITH a partition spec), so the
    empty-spec window really is a single-task sort of the full input.
    tests/test_plans.py pins this registry-wide: any effectively-global
    WindowExec (empty or all-literal partition spec) must sit above a
    k-bounded child.

    The rank window over the k survivors still logs WindowExec's
    blanket "No Partition Defined" warning — it fires on every
    empty-spec window regardless of input size, and a constant
    partition spec does not silence it (Catalyst constant-folds
    literals out of the spec before the physical plan, verified).
    get_spark() therefore drops that logger to ERROR with the
    justification that the plan guard proves every such window here
    is k-bounded.
    """
    return (
        df.orderBy(*order)
        .limit(k)
        .withColumn(rnk, F.row_number().over(Window.orderBy(*order)))
    )


def bucketed_global_rank(
    df: DataFrame, key: str, rk: str = "rk", buckets: int = 64
) -> DataFrame:
    """Dense 1-based global rank over a UNIQUE numeric ``key`` without
    a single-partition global sort — the two-pass partition-offset
    rank: (1) range-bucket rows on ``key`` with pure integer
    arithmetic, (2) count rows per bucket (≤ ``buckets``+1 rows),
    (3) turn counts into cumulative offsets with a window whose input
    is EXPLICITLY bounded by a no-op ``limit`` (so the registry-wide
    unbounded-global-window guard sees a Limit below the WindowExec,
    the same visibility contract ``ranked_topk`` honors), (4) add the
    broadcast offset to a per-bucket ``row_number``.

    Equivalent to ``row_number().over(Window.orderBy(key))`` — the
    bucket function ``(key - lo) div width`` is monotone in ``key``,
    so offset + within-bucket position IS the global position — but
    every corpus-grain stage is parallel: the only single-task work is
    the ≤ ``buckets``+1-row cumulative sum. Per-bucket skew follows
    the key distribution (dense ids → even buckets); a deployment
    raises ``buckets`` with the cluster, it never changes the result.

    ``key`` must be unique (ties within a bucket would make the
    within-bucket row_number nondeterministic) — callers rank by
    primary keys (doc_id).

    Key-range precondition (enforced, round-11 ADVICE): ``_hi - _lo``
    must fit in signed-64 — a key set spanning more than ±2^62 (e.g. a
    full-range 64-bit hash) overflows the subtraction, which in
    non-ANSI mode would wrap negative and silently produce negative
    bucket indices and wrong ranks. The span is therefore computed
    with ``try_subtract`` (NULL on overflow in EVERY ANSI mode) and
    guarded: NULL span with non-NULL extents raises the precondition
    message. Null-safe: an EMPTY input yields NULL extents and must
    return empty, not raise.
    """
    ext = (
        df.agg(
            F.min(key).cast("long").alias("_lo"),
            F.max(key).cast("long").alias("_hi"),
        )
        .withColumn("_span", F.expr("try_subtract(_hi, _lo)"))
        .filter(
            F.assert_true(
                F.coalesce(
                    F.col("_span") >= 0,  # always true when no overflow
                    F.col("_lo").isNull(),  # empty input: pass through
                ),
                F.lit(
                    "bucketed_global_rank: key range exceeds signed-64 "
                    "(_hi - _lo overflows); pre-shift or hash-fold the "
                    "key into a narrower range first"
                ),
            ).isNull()
        )
    )
    # integer bucket width: ceil-ish so the index never exceeds
    # `buckets`; (key-_lo) stays in BIGINT within the enforced range.
    b = df.crossJoin(F.broadcast(ext)).withColumn(
        "_bkt",
        F.expr(f"CAST(({key} - _lo) div (_span div {buckets} + 1) AS INT)"),
    )
    counts = (
        b.groupBy("_bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
        # no-op bound (the aggregate has at most buckets+1 groups) that
        # makes the boundedness of the offsets window VISIBLE in the
        # physical plan — a LocalLimit/GlobalLimit below the WindowExec
        .limit(buckets + 1)
    )
    offs = counts.select(
        "_bkt",
        F.coalesce(
            F.sum("_cnt").over(
                Window.partitionBy(F.lit(0))
                .orderBy("_bkt")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0).cast("long"),
        ).alias("_off"),
    )
    w = Window.partitionBy("_bkt").orderBy(key)
    return (
        b.join(F.broadcast(offs), "_bkt")
        .withColumn(rk, (F.col("_off") + F.row_number().over(w)).cast("long"))
        .drop("_bkt", "_lo", "_hi", "_span", "_off")
    )


def keyed_spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-distribute on ``key`` IFF the input arrives with fewer
    partitions than the session parallelism — the degenerate layout a
    small single-file parquet scan produces locally.

    Why it matters for keyed windows: Spark's WindowGroupLimit rewrite
    inserts a PARTIAL sort+limit below the window's exchange. With one
    input split that partial sorts the ENTIRE table in one task;
    hash-partitioning on the window key first satisfies the window's
    required distribution (the exchange collapses into this one) and
    the sort runs parallel (~2.4× on the motivating case — raw numbers
    in MEASUREMENTS.md). With a normally-parallel scan this helper is
    a no-op, so at cluster scale the map-side partial keeps cutting
    shuffle volume exactly as before — the condition distinguishes the
    two regimes instead of picking one.

    Cost note: ``df.rdd.getNumPartitions()`` forces physical planning
    of ``df`` on the driver even in the no-op regime. That is a
    once-per-query-build driver cost (~tens of ms for the scans this
    wraps), paid deliberately: the alternative — guessing the split
    count from file sizes — would re-derive FileSourceScan's own
    packing logic and drift from it.

    Audit of the other keyed-window queries on single-split scans
    (every sf0.1 table arrives as 1-3 splits): the degenerate layout
    only hurts when EXPENSIVE map-side work sits below the first
    exchange — the WindowGroupLimit partial sort that motivated this
    helper (ordered_dedup_lineitems, topk_orders_per_customer), or
    CPU-heavy per-row work (spread()'s explode/md5 cases). The others
    have scan+hash-only map sides (the keyed sort runs AFTER the
    32-way shuffle), so keyed_spread would add an exchange and a
    planning probe for nothing — measured-unnecessary; left unapplied
    (per-query timings in MEASUREMENTS.md).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= n:
        return df.repartition(n, F.col(key))
    return df


def ts_us_expr(dtype: str, col: str = "ts"):
    """Normalize an event-time column of ANY physical encoding to BIGINT
    epoch microseconds, timezone-independently.

    The testdata's ``ts`` has shipped as TIMESTAMP(NANOS) (readable only
    as long nanos under the nanosAsLong legacy conf) in one generation
    and as plain ``timestamp[us]`` (read as TIMESTAMP_NTZ) in another —
    so we branch on the dtype Spark actually resolved instead of
    assuming either:

    - ``bigint``        → epoch nanos, integer-divide to micros;
    - ``timestamp_ntz`` → ``timestampdiff(MICROSECOND, NTZ-epoch, ts)``:
      pure wall-clock arithmetic between two NTZ values, so the session
      timezone never enters (an NTZ→TIMESTAMP cast + unix_micros would
      shift by the session zone on non-UTC hosts and diverge from
      DuckDB's ``epoch_us``);
    - ``timestamp``     → ``unix_micros`` reads the internal UTC-epoch
      micros directly (also tz-independent).
    """
    from pyspark.sql import functions as F

    if dtype == "bigint":
        return F.expr(f"{col} div 1000")
    if dtype == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    if dtype == "timestamp":
        return F.unix_micros(F.col(col))
    raise TypeError(f"unsupported event-time dtype for {col!r}: {dtype}")


def events_tbl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table, with ``ts`` normalized to a single ``ts_us``
    BIGINT epoch-microseconds column (matching DuckDB's ``epoch_us``)
    regardless of the parquet file's physical timestamp encoding.

    nanosAsLong is set defensively before the read: it is required if
    the file carries TIMESTAMP(NANOS) and a no-op otherwise, and it must
    be in place before the scan is planned.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = tbl(spark, sf_dir, "events")
    dtype = dict(df.dtypes)["ts"]
    return df.withColumn("ts_us", ts_us_expr(dtype)).drop("ts")
