"""Snapshot-diff CDC operators (SURVEY §2.8 D1-D3 ★).

Reference analogue: ``produce_update_operations``
(/root/reference/airflow/dags/update_es.py:249-313) walks the current
JSONL, probing a previous-snapshot hash index (JSONLIndex,
update_es.py:73-113) and the live index-id map, emitting
create / minimal-update / archive operations.

Spark-first restatement: both snapshots are DataFrames with a
precomputed row hash; one FULL OUTER join on the business key
classifies every row in a single shuffle — no random-access index, no
driver loop, and it scales to snapshots that don't fit on one machine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Sentinel used when hashing nullable columns (update_es.py hashes the
#: canonical JSON of present fields; we canonicalize nulls explicitly).
NULL_SENTINEL = "\x00<null>"
SEP = "\x01"


def row_hash(cols: Sequence[str], prefix: str = ""):
    """Deterministic row digest over ``cols``: md5 of the
    null-canonicalized, separator-joined values.

    Mirrors JSONLIndex.hash (update_es.py:98-104 — sha256 of
    sort_keys-canonical JSON) with a column-order canonicalization
    that both Spark and DuckDB compute identically.

    ``prefix`` reads each column ``c`` from ``prefix + c`` (a renamed
    copy of the snapshot's columns after a join); the order stays the
    order of the unprefixed names, so the digest is the same.
    """
    parts = [
        F.coalesce(F.col(prefix + c).cast("string"), F.lit(NULL_SENTINEL))
        for c in sorted(cols)
    ]
    return F.md5(F.concat_ws(SEP, *parts))


def snapshot_diff(
    previous: DataFrame,
    current: DataFrame,
    key: str,
    compare_cols: Sequence[str],
) -> DataFrame:
    """Classify every key across two snapshots.

    Returns DataFrame[key, op] with op ∈ {create, update, delete,
    noop}, matching the reference's op taxonomy (update_es.py:264-313:
    id∉prev → create; hash differs → update; hash equal → no-op;
    id∉current → archive/delete).
    """
    prev_h = previous.select(F.col(key), row_hash(compare_cols).alias("_prev_hash"))
    curr_h = current.select(F.col(key), row_hash(compare_cols).alias("_curr_hash"))
    joined = prev_h.alias("p").join(curr_h.alias("c"), on=key, how="full_outer")
    return joined.select(
        F.col(key),
        F.when(F.col("_prev_hash").isNull(), F.lit("create"))
        .when(F.col("_curr_hash").isNull(), F.lit("delete"))
        .when(F.col("_prev_hash") != F.col("_curr_hash"), F.lit("update"))
        .otherwise(F.lit("noop"))
        .alias("op"),
    )


#: F12 — collections above this member count are skipped entirely
#: (update_es.py:139-141, 163-164, 215-216; also populate.py:236-238).
MAX_MEMBERS_COUNT = 10000


def snapshot_diff_three_way(
    previous: DataFrame,
    current: DataFrame,
    index_state: DataFrame,
    key: str,
    compare_cols: Sequence[str],
) -> DataFrame:
    """Three-way CDC classification (produce_update_operations,
    update_es.py:249-313): previous snapshot × current snapshot × the
    LIVE INDEX id map (collect_ids_mapping, update_es.py:46-63).

    ``index_state`` is DataFrame[key, es_id]. Returns
    DataFrame[key, es_id, op] with op ∈ {create, full_update, update,
    noop, archive}:

      id ∉ index                 → create  — insert even if present in
                                   prev (a prior insert may have
                                   failed; update_es.py:268-275)
      id ∈ index, ∉ prev         → full_update of all UPDATING_FIELDS
                                   (inserted-this-run-then-failed or
                                   archived long ago; :277-287)
      id ∈ index ∩ prev, hash ≠  → update (minimal diff; :289-301)
      id ∈ index ∩ prev, hash =  → noop
      id ∈ index, ∉ current      → archive (:305-311)

    Keys only in `previous` (in neither current nor index) emit
    nothing, exactly like the reference's loop. Plan shape: one
    full-outer join (current ⟗ index) + one left join (prev hashes) —
    two co-partitioned shuffles on the business key at any scale,
    replacing the reference's in-RAM dict probes + scroll of the whole
    index.
    """
    prev_h = previous.select(F.col(key), row_hash(compare_cols).alias("_prev_hash"))
    curr_h = current.select(F.col(key), row_hash(compare_cols).alias("_curr_hash"))
    idx = index_state.select(F.col(key), F.col("es_id"))
    joined = (
        curr_h.withColumn("_in_curr", F.lit(True))
        .join(idx.withColumn("_in_idx", F.lit(True)), on=key, how="full_outer")
        .join(prev_h, on=key, how="left")
    )
    return joined.select(
        F.col(key),
        F.col("es_id"),
        F.when(F.col("_in_curr").isNull(), F.lit("archive"))
        .when(F.col("_in_idx").isNull(), F.lit("create"))
        .when(F.col("_prev_hash").isNull(), F.lit("full_update"))
        .when(F.col("_prev_hash") != F.col("_curr_hash"), F.lit("update"))
        .otherwise(F.lit("noop"))
        .alias("op"),
    )


def three_way_operations(
    diff: DataFrame,
    current: DataFrame,
    key: str,
    index_name: str,
    members_count_col: str = "members_count",
    adjust_cols: Sequence[str] = (),
    max_members: int = MAX_MEMBERS_COUNT,
) -> DataFrame:
    """Bulk ops from a three-way diff, with the reference's two
    op-factory quirks (update_es.py:138-246):

    - F12 gate: create/full_update/update ops for collections with
      ``members_count_col`` > ``max_members`` are dropped (:139-141).
      Archive ops always pass — the reference's archive loop never
      consults the document.
    - +1 count adjustments: for create and full_update ops, each
      column in ``adjust_cols`` is emitted incremented by one —
      populate.py inserts one extra (nonavailable, invalid) member
      that the previous JSONL can't know about (:145-146, 188-205,
      228-245).
    """
    ops = diff.filter(F.col("op") != "noop").alias("d")
    joined = ops.join(current.alias("cur"), on=key, how="left")
    oversized = F.col(members_count_col) > F.lit(max_members)
    joined = joined.filter((F.col("d.op") == "archive") | ~oversized)

    payload_cols = []
    for c in current.columns:
        if c == key:
            continue
        if c in adjust_cols:
            payload_cols.append((F.col(f"cur.{c}") + F.lit(1)).alias(c))
        else:
            payload_cols.append(F.col(f"cur.{c}"))
    doc_json = F.to_json(F.struct(*payload_cols))
    return joined.select(
        F.when(F.col("d.op") == "create", F.lit("create"))
        .otherwise(F.lit("update"))
        .alias("_op_type"),
        F.lit(index_name).alias("_index"),
        # deterministic _id: the live index's es_id when known, else the
        # business key (retires the random-id 409 retry loop, D5)
        F.coalesce(F.col("d.es_id"), F.col(key).cast("string")).alias("_id"),
        F.when(F.col("d.op") == "create", doc_json).alias("_source"),
        F.when(F.col("d.op").isin("update", "full_update"), doc_json)
        .when(
            F.col("d.op") == "archive",
            F.to_json(F.struct(F.lit(True).alias("archived"))),
        )
        .alias("doc"),
    )


def minimal_field_diff(
    previous: DataFrame,
    current: DataFrame,
    key: str,
    compare_cols: Sequence[str],
) -> DataFrame:
    """Per-field minimal patch for updated keys (update_es.py:156-209 ★).

    For every key present in both snapshots, emit one row per *changed*
    column: (key, field, old_value, new_value) — the relational form of
    the reference's sparse update dicts. Static schema makes this fully
    column-expressible (SURVEY §2.8 D3).
    """
    p = previous.select(key, *compare_cols).alias("p")
    c = current.select(key, *compare_cols).alias("c")
    joined = p.join(c, on=key, how="inner")
    diffs = []
    for col in compare_cols:
        old, new = F.col(f"p.{col}").cast("string"), F.col(f"c.{col}").cast("string")
        changed = ~(old.eqNullSafe(new))
        diffs.append(
            joined.filter(changed).select(
                F.col(key),
                F.lit(col).alias("field"),
                old.alias("old_value"),
                new.alias("new_value"),
            )
        )
    out = diffs[0]
    for d in diffs[1:]:
        out = out.unionByName(d)
    return out


def bulk_operations(
    diff: DataFrame,
    current: DataFrame,
    key: str,
    index_name: str,
) -> DataFrame:
    """ES-bulk-shaped operation rows from a snapshot diff (S14/D2 ★;
    update_es.py:138-209 op factories, apply_operations :316-358).

    create → whole doc as _source; update → doc patch; delete →
    archive-style update setting data.archived (J13/update_es.py:
    306-311). Deterministic _id = the business key (which retires the
    reference's random-id 409-conflict retry loop, D5 — there is
    nothing left to conflict)."""
    docs = current.alias("cur")
    ops = diff.filter(F.col("op") != "noop").alias("d")
    joined = ops.join(docs, on=key, how="left")
    doc_json = F.to_json(F.struct(*[c for c in current.columns if c != key]))
    return joined.select(
        F.col("d.op").alias("_op_type"),
        F.lit(index_name).alias("_index"),
        F.col(key).cast("string").alias("_id"),
        F.when(F.col("d.op") == "create", doc_json).alias("_source"),
        F.when(F.col("d.op") == "update", doc_json)
        .when(F.col("d.op") == "delete", F.to_json(F.struct(F.lit(True).alias("archived"))))
        .alias("doc"),
    )


def write_operations_jsonl(ops: DataFrame, path: str) -> None:
    """Persist the ops DataFrame as the reference's deliverable — the
    update-operations JSONL (update_es.py:23 UPDATE_OPERATIONS). A
    thin applier (or the elasticsearch-spark connector) pushes it;
    the engine's contract ends at this dataset."""
    ops.write.mode("overwrite").json(path)


LATEST_MARKER = "_LATEST"


def _marker(spark, base_dir: str):
    """(filesystem, path) of the latest-marker under ``base_dir``."""
    path = spark._jvm.org.apache.hadoop.fs.Path(f"{base_dir}/{LATEST_MARKER}")
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def _read_marker(spark, base_dir: str) -> str | None:
    """The stamp the latest-marker points at; None before the first
    rotation."""
    fs, path = _marker(spark, base_dir)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _write_marker(spark, base_dir: str, stamp: str) -> None:
    """Point the latest-marker at ``stamp`` (replacing the file)."""
    fs, path = _marker(spark, base_dir)
    out = fs.create(path, True)
    try:
        out.write(bytearray(stamp.encode("utf-8")))
    finally:
        out.close()


def rotate_snapshot(current: DataFrame, base_dir: str, stamp: str) -> str:
    """D4: persist the current snapshot as a dated Parquet dataset and
    point the latest-marker at it (archive_merged_final,
    update_es.py:361-370,421-437 — dated copies + a 'latest' symlink,
    restated as versioned directories + a marker file)."""
    path = f"{base_dir}/snapshot={stamp}"
    current.write.mode("overwrite").parquet(path)
    _write_marker(current.sparkSession, base_dir, stamp)
    return path


def latest_snapshot(spark, base_dir: str) -> DataFrame | None:
    """Read the snapshot the marker points at; None before first
    rotation (the reference's first-run create-everything path,
    update_es.py:24,367-370)."""
    stamp = _read_marker(spark, base_dir)
    if stamp is None:
        return None
    return spark.read.parquet(f"{base_dir}/snapshot={stamp}")


#: Ledger of snapshot stamps deleted by retention (one stamp per
#: line). Kept so a batch-API replay of a PRUNED stamp can be refused
#: instead of silently double-merging: ``snapshot_committed`` would
#: return False for a deleted directory, and the merge path would
#: fold the old batch into state a second time.
#:
#: Layout: APPEND-ONLY — each prune writes its OWN file under the
#: ``_PRUNED.d/`` directory (named by the lexicographic-max canonical
#: victim, so a crashed prune's rerun overwrites only its own
#: idempotent entry) and readers union every file. Round-10 ADVICE fix: the previous single-file
#: ledger was rewritten in place with a truncating ``fs.create``, so a
#: crash during a LATER prune's rewrite (after truncate, before close)
#: lost EARLIER pruned stamps whose snapshots were already deleted —
#: exactly the double-merge window the ledger exists to close. With
#: per-prune files, prior entries are never touched again. The legacy
#: single ``_PRUNED`` file is still read for stores written by older
#: builds.
PRUNED_LEDGER = "_PRUNED"
PRUNED_LEDGER_DIR = "_PRUNED.d"


def _read_fs_text(fs, jvm, path_str: str) -> str:
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path_str))
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


#: Per-file parse cache for ledger reads, keyed by (path, length).
#: Safe because every ledger write monotonically GROWS its file: new
#: prunes append new files, a crashed prune's rerun overwrites its own
#: file with a superset (strictly longer) or the identical set (same
#: bytes), and the legacy single-file ledger was rewritten as a
#: growing union by older builds. So an unchanged (path, length) pair
#: implies unchanged content. The directory is still LISTED on every
#: call — a prune from another process shows up immediately; only
#: re-READING unchanged files is skipped (round-11 ADVICE: the sink
#: re-opened every prune file per micro-batch, O(total prunes) FS
#: round trips per write).
_LEDGER_FILE_CACHE: dict[tuple[str, int], frozenset] = {}


def _ledger_file_stamps(fs, jvm, path_str: str, length: int) -> frozenset:
    from namegraph_collections_spark.operators.additive_state import (
        canonical_stamp,
    )

    key = (path_str, length)
    hit = _LEDGER_FILE_CACHE.get(key)
    if hit is not None:
        return hit
    text = _read_fs_text(fs, jvm, path_str)
    stamps = frozenset(
        canonical_stamp(line) for line in text.splitlines() if line
    )
    _LEDGER_FILE_CACHE[key] = stamps
    return stamps


def pruned_stamps(spark, base_dir: str) -> set[str]:
    """The set of stamps retention has deleted (empty before the
    first prune), in ledger-canonical spelling — batch-shaped stamps
    are normalized through ``canonical_stamp`` on read so entries
    written at any padding width match the membership test."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    legacy = jvm.org.apache.hadoop.fs.Path(f"{base_dir}/{PRUNED_LEDGER}")
    fs = legacy.getFileSystem(conf)
    out: set[str] = set()
    if fs.exists(legacy):
        st = fs.getFileStatus(legacy)
        out |= _ledger_file_stamps(
            fs, jvm, f"{base_dir}/{PRUNED_LEDGER}", st.getLen()
        )
    ldir = jvm.org.apache.hadoop.fs.Path(f"{base_dir}/{PRUNED_LEDGER_DIR}")
    if fs.exists(ldir):
        for status in fs.listStatus(ldir):
            if status.isFile():
                out |= _ledger_file_stamps(
                    fs, jvm, str(status.getPath()), status.getLen()
                )
    return out


def prune_snapshots(spark, base_dir: str, keep_last: int) -> list[str]:
    """Retention for dated snapshot stores: delete all but the newest
    ``keep_last`` snapshot directories, never touching the one the
    latest-marker points at. Returns the pruned stamps (oldest
    first).

    Why it exists: ``rotate_snapshot`` keeps every dated copy (the
    reference's archive semantics) — correct for a daily pipeline,
    unbounded for the foreachBatch maintenance twins that rotate once
    per MICRO-BATCH. A deployment calls this after (or periodically
    between) merges; only snapshots STRICTLY OLDER than the marker's
    are eligible, so the read path and any crash recovery of the
    current state are untouched.

    Replay contract: pruned stamps land in the ``_PRUNED`` ledger and
    ``maintain_keyed_state`` REFUSES a replay of a ledgered stamp
    (raising like the out-of-order guard) rather than re-merging a
    batch whose idempotence marker was deleted. Structured Streaming
    never replays past the latest batch, so the refusal only fires
    for out-of-contract batch-API calls.

    Ordering uses the keyed-state stamp comparison (numeric for
    batch-shaped stamps), so 'b1000000' correctly outranks 'b999999'.
    """
    import functools

    from namegraph_collections_spark.operators.additive_state import (
        stamp_is_older,
    )

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    base = jvm.org.apache.hadoop.fs.Path(base_dir)
    fs = base.getFileSystem(conf)
    if not fs.exists(base):
        return []
    stamps = []
    for status in fs.listStatus(base):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("snapshot="):
            stamps.append(name[len("snapshot="):])
    stamps.sort(
        key=functools.cmp_to_key(
            lambda a, b: -1 if stamp_is_older(a, b) else (1 if stamp_is_older(b, a) else 0)
        )
    )
    # never prune the marker's target or anything newer than it
    current = _read_marker(spark, base_dir)
    eligible = [
        s
        for s in stamps
        if current is None or stamp_is_older(s, current)
    ]
    victims = eligible[: max(0, len(stamps) - keep_last)]
    if not victims:
        return []
    # ledger FIRST (refuse-replay must win over a crash mid-prune: a
    # ledgered-but-undeleted snapshot is only a leaked directory, the
    # reverse would be a silent double-merge window).
    write_prune_ledger(fs, jvm, base_dir, victims)
    for s in victims:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{base_dir}/snapshot={s}"), True)
    return victims


def write_prune_ledger(fs, jvm, base_dir: str, victims: list[str]) -> None:
    """Record ``victims`` in the append-only ``_PRUNED.d/`` ledger
    BEFORE anything is deleted. Append-only: each prune writes its
    OWN file — earlier prunes' entries are never rewritten, so no
    crash here can lose them. The file is named by the LEXICOGRAPHIC
    max of the canonicalized victims — NOT the newest by stamp order
    (for unpadded stamps crossing a digit-length boundary, victims
    {b9, b10} name the file ``prune-b9``); uniqueness is what matters
    and it holds either way (victim sets of distinct prunes are
    disjoint — deletion precedes the next prune's listing — so the
    name only repeats when a CRASHED prune reruns, and overwriting
    that partial file with a superset/equal set is idempotent). Shared by the keyed-state
    snapshot retention AND the scored-batch sink retention
    (streaming/idempotent_sink.py) so both durability surfaces honor
    ONE refuse-replay contract."""
    from namegraph_collections_spark.operators.additive_state import (
        canonical_stamp,
    )

    entries = sorted(canonical_stamp(s) for s in victims)
    ldir = jvm.org.apache.hadoop.fs.Path(f"{base_dir}/{PRUNED_LEDGER_DIR}")
    fs.mkdirs(ldir)
    path = jvm.org.apache.hadoop.fs.Path(
        f"{base_dir}/{PRUNED_LEDGER_DIR}/prune-{entries[-1]}"
    )
    out = fs.create(path, True)
    out.write(bytearray(("\n".join(entries) + "\n").encode("utf-8")))
    out.close()


def sync_index(
    current: DataFrame,
    base_dir: str,
    stamp: str,
    key: str,
    compare_cols: Sequence[str],
    index_name: str = "collection-templates-1",
) -> DataFrame:
    """§3.2 end-to-end: previous snapshot (or empty) → bulk ops →
    rotate. Returns the ops DataFrame, materialized (an eager local
    checkpoint) from the PRE-rotation latest snapshot. The ops rows are
    those of ``bulk_operations(snapshot_diff(previous, current, ...))``
    for unique, non-null keys.

    Plan: ONE full-outer join on ``key`` of ``previous`` (the key, its
    compare columns renamed, a presence flag) with ``current`` (every
    column, a presence flag). ``row_hash`` of each side is evaluated
    after the join, in the parallel reduce tasks, and the
    create/update/delete rows are built from the joined row — so
    ``current`` is scanned once for the ops, with no second join
    against it to fetch the documents.

    Schedule: the ops checkpoint and the Parquet write of
    ``snapshot=<stamp>`` run at the same time from two driver threads
    (they keep the caller's job group); the diff reads a different
    directory, so they do not conflict. When ``stamp`` is already the
    marker's stamp, the write would replace the snapshot the diff
    reads, so the checkpoint runs first and the write after it.

    The marker flips last, only after both succeed: a failed sync
    leaves ``latest_snapshot`` on the previous stamp, and a rerun with
    the same stamp overwrites whatever the failed write left."""
    from namegraph_collections_spark.queries.registry import run_parallel

    spark = current.sparkSession
    latest = _read_marker(spark, base_dir)
    if latest is None:
        previous = spark.createDataFrame([], current.schema)
    else:
        previous = spark.read.parquet(f"{base_dir}/snapshot={latest}")
    prefix = "_prev_"
    prev = previous.select(
        F.col(key),
        *[F.col(c).alias(prefix + c) for c in compare_cols],
        F.lit(True).alias("_in_prev"),
    )
    joined = prev.join(current.withColumn("_in_curr", F.lit(True)), on=key, how="full_outer")
    in_prev, in_curr = F.col("_in_prev").isNotNull(), F.col("_in_curr").isNotNull()
    # The hashes appear only in this filter, so each is computed once.
    changed = joined.filter(
        ~in_prev | ~in_curr | (row_hash(compare_cols, prefix) != row_hash(compare_cols))
    )
    op = F.when(~in_prev, F.lit("create")).when(~in_curr, F.lit("delete")).otherwise(F.lit("update"))
    doc_json = F.to_json(F.struct(*[c for c in current.columns if c != key]))
    ops = changed.select(
        op.alias("_op_type"),
        F.lit(index_name).alias("_index"),
        F.col(key).cast("string").alias("_id"),
        F.when(~in_prev, doc_json).alias("_source"),
        F.when(in_prev & in_curr, doc_json)
        .when(~in_curr, F.to_json(F.struct(F.lit(True).alias("archived"))))
        .alias("doc"),
    )

    path = f"{base_dir}/snapshot={stamp}"

    def checkpoint() -> DataFrame:
        return ops.localCheckpoint(eager=True)

    def write() -> None:
        current.write.mode("overwrite").parquet(path)

    if stamp == latest:
        ops = checkpoint()
        write()
    else:
        ops, _ = run_parallel(spark, checkpoint, write)
    _write_marker(spark, base_dir, stamp)
    return ops


# ---------------------------------------------------------------------------
# CDC-driven incremental view maintenance: the rollup delta is
# COMPUTED from the snapshot diff (changed keys since the stored
# snapshot), not declared by a split instant — the loop a 100 TB
# store actually runs against its stored aggregate.
# ---------------------------------------------------------------------------
def partial_state(df: DataFrame, group_cols: Sequence[str], sum_cols: Sequence[str]) -> DataFrame:
    """Decomposable aggregate state for ``df``: one row per group with
    ``n`` (row count) and ``sum_<c>`` for each measure. This is the
    ONLY shape a maintained rollup may store — derived measures
    (means, ratios) are computed after merging, never stored, because
    they don't combine."""
    return df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col(c)).alias(f"sum_{c}") for c in sum_cols],
    )


def cdc_maintain_aggregate(
    stored: DataFrame,
    previous: DataFrame,
    current: DataFrame,
    key: str,
    compare_cols: Sequence[str],
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Advance ``stored`` (= ``partial_state(previous, ...)``, e.g.
    read back from the lake) to the aggregate of ``current`` WITHOUT
    recomputing history: only rows of keys the snapshot diff marks
    changed are touched.

    Retraction-based IVM over decomposable state:

      new = stored  ∪  (−state of prev rows with op ∈ {update, delete})
                    ∪  (+state of curr rows with op ∈ {create, update})
      → one merge aggregation, drop groups whose count reaches 0.

    Retract-then-insert (rather than patching in place) is what makes
    dimension moves correct: a key whose GROUP column changed leaves
    its old group and enters the new one. The merge is the same
    decomposable-state union+re-aggregate as incremental_hourly_rollup
    — this operator supplies the *computed* delta that query's fixed
    split instant stood in for.

    Cost shape at scale: the diff is two narrow hash-joined column
    scans (key + md5); the retract/insert states aggregate ONLY the
    changed keys' rows (semi-join pruned before any wide shuffle);
    the merge aggregation runs over |stored| + O(changed groups) rows.
    """
    diff = snapshot_diff(previous, current, key, compare_cols)
    changed = diff.filter(F.col("op") != "noop")
    retract_keys = changed.filter(F.col("op").isin("update", "delete")).select(key)
    insert_keys = changed.filter(F.col("op").isin("create", "update")).select(key)
    retract = partial_state(
        previous.join(retract_keys, key, "left_semi"), group_cols, sum_cols
    ).select(
        *[F.col(c) for c in group_cols],
        (-F.col("n")).alias("n"),
        *[(-F.col(f"sum_{c}")).alias(f"sum_{c}") for c in sum_cols],
    )
    insert = partial_state(current.join(insert_keys, key, "left_semi"), group_cols, sum_cols)
    return (
        stored.unionByName(retract)
        .unionByName(insert)
        .groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
        )
        .filter(F.col("n") > 0)
    )
