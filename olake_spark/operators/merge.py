"""MERGE INTO — copy-on-write CDC apply (SURVEY.md P5).

The reference defers upsert/delete semantics to the destination: every
record carries ``olake_id`` = md5 of sorted PK values
(/root/reference/utils/utils.go:229-241) and deletes arrive as rows with
``_cdc_deleted_at`` set (/root/reference/drivers/postgres/internal/cdc.go:123-131).
This operator *implements* the deferred semantics as an Iceberg-style
copy-on-write MERGE:

    WHEN MATCHED AND _cdc_deleted_at IS NOT NULL THEN DELETE
    WHEN MATCHED THEN UPDATE
    WHEN NOT MATCHED (and not a delete) THEN INSERT

Physical plan, designed for 100 TB:
0. *batch keys* — the deduplicated batch is cached; for a driver-planned
   snapshot ONE bounded collect of its (doc_id, _olake_id, delete flag)
   rows, capped at ``exact_prune_max_keys`` + 1, yields the change
   count, the delete count, the sorted doc_id list used by step 1 and by
   the commit's conflict validation, and the flagged keys used by
   step 2. A batch over the cap (or a many-shard snapshot) is counted by
   an aggregate and never held on the driver;
1. *candidate pruning* — manifest doc_id min/max vs. the change batch's
   keys selects candidate files EXACTLY at any batch size: driver-side
   bisect of the collected key list for small batches, a distributed
   bucketized interval join of manifest ranges vs keys above that (the
   analog of Iceberg's manifest filtering);
2. *touched-file discovery* — one scan of candidates, filtered on the
   batch's ``_olake_id`` keys and carrying each row's source path, finds
   files that actually contain a matched key AND yields the
   matched/deleted row counts in the same job. A small batch (at most
   ``_INLINE_KEYS_MAX`` keys) filters on an inlined IN list of the keys
   collected in step 0, and the matched (key, file) rows — bounded by the
   batch size — are counted on the driver: no broadcast job, no
   aggregation exchange. A larger batch joins (broadcast when small) the
   flagged keys and aggregates per file in the cluster. Untouched
   candidates carry over to the new snapshot unchanged;
3. *rewrite* — touched rows anti-joined against matched keys, unioned
   with upserted change rows, written doc_id-clustered.

Only step 2–3 read table data, and only the touched files are rewritten.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olake_spark.functions.partitioning import (
    _SAMPLE_MAX,
    bin_expr,
    composite_key_expr,
    exact_range_partition,
    sample_file_boundaries,
    sql_in_list,
    string_key_cols,
)
from olake_spark.operators.compaction import DEFAULT_TARGET_FILE_BYTES
from olake_spark.schema import (
    CDC_DELETED_AT,
    OLAKE_ID,
    OLAKE_INSERT_TIME,
    olake_id_expr,
)
from olake_spark.table.format import (
    SCAN_DISTRIBUTED_MIN_SHARDS as _DISTRIBUTED_PLANNING_MIN_SHARDS,
)
from olake_spark.table.format import (
    LAST_UPDATED_SEQ,
    ROW_ID,
    DataFile,
    Table,
)

# Broadcast the change-key side only while its estimated on-heap size
# stays inside the session's broadcast ceiling: each _olake_id is a
# 32-char md5 string, ~72 bytes as a JVM String + row overhead. A
# row-count cap (the old 4M) let ~300 MB broadcasts through — a
# driver/executor OOM risk. The byte ceiling itself is
# session.broadcast_cap_bytes (spark.sql.autoBroadcastJoinThreshold),
# shared with the MoR delete anti-joins in table/format.py; above it we
# drop the hint and let AQE choose the join strategy from runtime stats.
BROADCAST_KEY_BYTES = 72

# A driver-collected change batch of at most this many keys filters the
# discovery scan through an inlined IN list instead of a broadcast join:
# no broadcast job, but planning cost grows with the list (on 4 cores
# the two cost the same near 2k keys, measured over a 20k-row scan).
_INLINE_KEYS_MAX = 1024


class _PhaseTimer:
    """Wall seconds per merge phase: ``mark(name)`` records the time since
    the previous mark (or since construction) under ``name``. ``seconds``
    is what ``MergeResult.details['phase_seconds']`` reports."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = {}
        self._t0 = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.seconds[name] = round(now - self._t0, 3)
        self._t0 = now


def stats_overlap(sorted_keys: list, stats: dict | None) -> bool:
    """May a file whose column stats are ``stats`` ({'min':..,'max':..})
    contain any of ``sorted_keys``? Conservative True on missing stats.
    The single bisect predicate shared by candidate pruning and the
    commit-time conflict validation."""
    import bisect

    if not stats or stats.get("min") is None or stats.get("max") is None:
        return True
    i = bisect.bisect_left(sorted_keys, stats["min"])
    return i < len(sorted_keys) and sorted_keys[i] <= stats["max"]


def _keys_for_join(keys: DataFrame, n_keys: int) -> DataFrame:
    from olake_spark.session import broadcast_cap_bytes

    if n_keys * BROADCAST_KEY_BYTES <= broadcast_cap_bytes(keys.sparkSession):
        return F.broadcast(keys)
    return keys


@dataclass
class MergeResult:
    snapshot_id: int | None
    candidate_files: int = 0
    touched_files: int = 0
    inserted: int = 0
    updated: int = 0
    deleted: int = 0
    details: dict = field(default_factory=dict)


def _prepare_changes(changes: DataFrame, dedup_order_col: str | None) -> DataFrame:
    """Normalize a change batch: inject _olake_id, last-wins dedup per key.

    A CDC batch can carry several ops for one key; the reference's
    at-least-once delivery makes duplicates normal — ``olake_id`` is the
    idempotency key (/root/reference/types/data_types.go:26-31)."""
    ch = changes
    if OLAKE_ID not in ch.columns:
        ch = ch.withColumn(OLAKE_ID, olake_id_expr("doc_id"))
    if CDC_DELETED_AT not in ch.columns:
        ch = ch.withColumn(CDC_DELETED_AT, F.lit(None).cast("timestamp"))
    order = dedup_order_col or OLAKE_INSERT_TIME
    if order in ch.columns:
        w = Window.partitionBy(OLAKE_ID).orderBy(F.col(order).desc())
        ch = (
            ch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        ch = ch.dropDuplicates([OLAKE_ID])
    return ch


def _candidate_paths_distributed(
    spark, files, keys_df: DataFrame, n_keys: int, n_buckets: int = 1024
) -> set[str]:
    """Exact per-file candidate check for arbitrarily large key batches:
    a file is a candidate iff some change key falls in its doc_id
    [min,max]. Implemented as a bucketized interval join — bucket
    boundaries come from a bounded sample of the keys, each file interval
    explodes into the buckets it overlaps (clustered files span few), and
    a bucket equi-join + range filter finds hits. Everything is a shuffle
    on uniform bucket ids; nothing driver-side grows with the batch.
    Files without doc_id stats are conservatively candidates."""
    no_stats = {f.path for f in files if f.stats.get("doc_id", {}).get("min") is None}
    bounded = [
        (f.path, f.stats["doc_id"]["min"], f.stats["doc_id"]["max"])
        for f in files
        if f.path not in no_stats
    ]
    if not bounded:
        return no_stats
    key_type = keys_df.schema["doc_id"].dataType.simpleString()
    frac = min(1.0, (32 * n_buckets) / max(n_keys, 1))
    sample = sorted(
        r[0]
        for r in (
            keys_df.sample(False, frac, seed=42) if frac < 1.0 else keys_df
        ).collect()
    )
    if not sample:
        return no_stats
    bnds = sorted(
        {
            sample[min(len(sample) - 1, (i * len(sample)) // n_buckets)]
            for i in range(1, n_buckets)
        }
    )

    # manifest min/max carry the key column's native type (int for a
    # bigint doc_id) — the bounds schema must match the keys' type, not
    # assume string
    fdf = spark.createDataFrame(
        bounded, f"path string, lo {key_type}, hi {key_type}"
    )
    fb = fdf.withColumn(
        "b", F.explode(F.sequence(bin_expr("lo", bnds), bin_expr("hi", bnds)))
    )
    kb = keys_df.withColumn("b", bin_expr("doc_id", bnds))
    hits = (
        fb.join(kb, "b")
        .filter(F.col("doc_id").between(F.col("lo"), F.col("hi")))
        .select("path")
        .distinct()
        .collect()
    )
    return {r.path for r in hits} | no_stats


def _output_boundaries(
    table: Table,
    touched,
    ch: DataFrame,
    n_changes: int,
    n_bins: int,
    sample_changes: bool = False,
) -> list[str] | None:
    """(source, doc_id) range boundaries for the rewrite output, sampled
    driver-side so the output exchange never re-evaluates its child (the
    repartitionByRange sampling pass would scan the touched files and run
    the anti-join TWICE). Touched-file keys come from a column-pruned
    pyarrow read of a few evenly-spaced files; when the batch's inserts
    are a material fraction of the output (or there are no touched files
    at all), a bounded sample of the (cached) change batch joins the
    pool so insert keys outside the touched ranges still get bins.
    Returns None when no usable sample exists — caller falls back to
    repartitionByRange."""
    if n_bins <= 1:
        return []
    def _ch_frame():
        frac = min(1.0, _SAMPLE_MAX / max(n_changes, 1))
        sample = ch.sample(False, frac, seed=42) if frac < 1.0 else ch
        return sample.select("source", "doc_id").toPandas()

    extra = [_ch_frame()] if (not touched or sample_changes) else []
    bnds = sample_file_boundaries(
        table, touched, ["source", "doc_id"], n_bins, extra_frames=extra
    )
    if bnds is None and not extra:
        # touched files not driver-readable (non-local fs): the change
        # batch is still sampleable — its keys mirror the touched-row
        # key distribution for update-shaped batches, which keeps the
        # single-shuffle exact path instead of regressing to
        # repartitionByRange's double evaluation
        bnds = sample_file_boundaries(
            table, [], ["source", "doc_id"], n_bins, extra_frames=[_ch_frame()]
        )
    return bnds


def commit_merge(
    table: Table,
    planned_snapshot_id: int | None,
    touched,
    outputs,
    change_ids: list | None,
    summary_extra: dict,
) -> int:
    """Commit a merge rewrite with Iceberg-style conflict validation.

    A raw commit fails on ANY concurrent version bump; most bumps are
    harmless appends. Each attempt refreshes and revalidates:
    - a touched file vanishing means a concurrent rewrite of our inputs
      — NOT retryable, the merge must be recomputed (RuntimeError);
    - files added since planning are safe only if their doc_id stats
      cannot contain any change key (serializable-MERGE validation —
      a concurrent append of a matched key would silently escape the
      update/delete). ``change_ids`` is the sorted key list from the
      driver-side prune; when the batch was too large to hold driver-
      side (None), any concurrent add is conservatively a conflict.

    Validation cost is O(concurrent churn), never O(table): manifests
    are immutable and a commit carries untouched shards over, so the
    planned-vs-current file delta is exactly the delta of their shard
    sets — files ADDED since planning = entries of current-only shards
    minus paths of planned-only shards, and a touched file is GONE iff
    its path is in the planned-only entries but not the current-only
    ones. The no-conflict fast path (pointer unmoved) reads nothing.
    """
    from olake_spark.plans.retry import retry_on_backoff
    from olake_spark.table.format import CommitConflict

    touched_paths = {f.path: f for f in touched}

    def _overlaps(f) -> bool:
        if change_ids is None:
            return True
        return stats_overlap(change_ids, f.stats.get("doc_id"))

    def attempt() -> int:
        table.refresh()
        if table.current_snapshot_id != planned_snapshot_id:
            cur = table.snapshot()
            if planned_snapshot_id is None:
                # planned against an EMPTY table (snapshot(None) would
                # resolve to the current snapshot and void the diff):
                # everything now present was added since planning
                planned = None
            else:
                try:
                    planned = table.snapshot(planned_snapshot_id)
                except KeyError:
                    raise RuntimeError(
                        "planned snapshot expired during the merge; recompute"
                    ) from None
            from olake_spark.table.format import snapshot_file_delta

            new_entries, dropped = snapshot_file_delta(table, planned, cur)
            dropped_paths = set(dropped)
            missing = {
                p
                for p in touched_paths
                if p in dropped_paths and p not in new_entries
            }
            if missing:
                raise RuntimeError(
                    "merge inputs were rewritten concurrently; recompute "
                    f"the merge (missing: {sorted(missing)[:3]}...)"
                )
            conflicting = [
                p
                for p, e in new_entries.items()
                if p not in dropped_paths
                and p not in touched_paths
                and _overlaps(e)
            ]
            if conflicting:
                raise RuntimeError(
                    "files added concurrently may contain matched keys; "
                    f"recompute the merge ({sorted(conflicting)[:3]}...)"
                )
            # merge-on-read delete files landed since planning: our
            # rewritten outputs carry a higher sequence number, which
            # would void those row-level deletes for every row we
            # rewrote — recompute against the new delete set
            if outputs:
                from olake_spark.table.format import new_delete_entries_since

                for d in new_delete_entries_since(table, planned, cur):
                    st = d.stats.get("doc_id")
                    if (
                        not st
                        or st.get("min") is None
                        or any(
                            f.overlaps("doc_id", st["min"], st["max"])
                            for f in outputs
                        )
                    ):
                        raise RuntimeError(
                            "row-level deletes landed on merged key range "
                            f"concurrently; recompute ({d.path})"
                        )
        return table.commit(
            "overwrite",
            added=outputs,
            removed_paths=set(touched_paths),
            summary_extra=summary_extra,
        )

    return retry_on_backoff(
        attempt, attempts=4, base_sleep_s=0.2, retry_on=(CommitConflict,)
    )


def merge_into(
    table: Table,
    changes: DataFrame,
    dedup_order_col: str | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    exact_prune_max_keys: int = 100_000,
    distributed_planning: bool | None = None,
    mode: str = "cow",
) -> MergeResult:
    """Apply a CDC-shaped change batch to the table.

    ``mode='cow'`` (copy-on-write, default): rewrites every data file
    containing a matched key — scans stay delete-free, but write
    amplification is O(touched file bytes) per batch.

    ``mode='mor'`` (merge-on-read, Iceberg v2): writes the upsert rows
    as new data files plus ONE equality-delete file holding every change
    key, and commits — no data file is read or rewritten, so apply cost
    is O(batch) regardless of how many of the table's 10^12 rows the
    keys touch. Scans anti-join the delete files until
    ``materialize_deletes``/``compact`` folds them in. This is the
    scale-correct shape for a continuous CDC tail; run CoW (or
    materialize) on the maintenance cadence instead of per batch.

    ``distributed_planning``: None (default) auto-enables the
    manifest-DataFrame discovery path when the snapshot has >=
    ``_DISTRIBUTED_PLANNING_MIN_SHARDS`` manifest shards — a million-file
    table must not parse every manifest on the driver per merge; True /
    False force it for tests or unusual layouts. CoW-only (MoR plans
    nothing)."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode {mode!r}")
    ch = _prepare_changes(changes, dedup_order_col).cache()
    try:
        if mode == "mor":
            return _merge_apply_mor(table, ch, target_file_bytes)
        return _merge_apply(
            table, ch, target_file_bytes, exact_prune_max_keys,
            distributed_planning,
        )
    finally:
        # unpersist on EVERY exit — the empty-batch early return and any
        # raise between cache and commit must not leak executor storage
        ch.unpersist()


def _merge_apply_mor(
    table: Table, ch: DataFrame, target_file_bytes: int
) -> MergeResult:
    """Merge-on-read apply: new data files + an equality-delete file,
    zero reads of existing data.

    Concurrency: no serializable-append validation is needed, unlike
    CoW. The equality delete kills EVERY smaller-sequence version of its
    keys, so interleaved MoR merges resolve to last-committer-wins — the
    same outcome as running them serially in commit order; and a
    concurrent append's files carry a higher or equal sequence number,
    so this merge cannot clobber rows it never saw. Rewrite jobs
    (compaction/clustering/CoW merge) do the conflict-checking on THEIR
    side against delete files landed mid-rewrite
    (format.new_delete_entries_since). Commit retries on version-bump
    conflicts only — the written files are immutable and re-commit as-is.
    """
    from olake_spark.plans.retry import retry_on_backoff
    from olake_spark.table.format import CONTENT_EQ_DELETES, CommitConflict

    timer = _PhaseTimer()
    table.refresh()
    schema = table.schema()
    out_cols = [f.name for f in schema.fields]

    stats = ch.agg(
        F.count("*").alias("n"),
        F.sum(F.col(CDC_DELETED_AT).isNotNull().cast("int")).alias("n_del"),
    ).first()
    n_changes = stats.n or 0
    n_deletes_total = stats.n_del or 0
    timer.mark("prepare_s")
    if n_changes == 0:
        return MergeResult(snapshot_id=None)

    # --- delete keys: EVERY change key. Updates must kill the prior
    # version; inserts have none and the extra key is a no-op in the
    # scan's anti-join — writing them unconditionally is what lets MoR
    # skip the existence scan entirely (the Flink/Iceberg upsert shape).
    # Globally doc_id-sorted so each delete file carries a tight doc_id
    # range for scan-time delete-file pruning.
    tbl_rows, tbl_bytes = table.total_rows(), table.total_bytes()
    avg_row_bytes = (tbl_bytes / tbl_rows) if tbl_rows else 256.0
    n_del_files = max(1, math.ceil((n_changes * 48) / (32 << 20)))
    del_keys = (
        ch.select(OLAKE_ID, "doc_id")
        .repartitionByRange(n_del_files, "doc_id")
        .sortWithinPartitions("doc_id")
    )
    del_files = table.write_delete_files(del_keys, CONTENT_EQ_DELETES)

    # --- upsert rows as ordinary clustered data files
    now_ms = F.unix_micros(F.current_timestamp()) / F.lit(1000)
    upserts = (
        ch.filter(F.col(CDC_DELETED_AT).isNull())
        .withColumn(OLAKE_INSERT_TIME, now_ms.cast("long"))
        .select(*out_cols)
    )
    n_upserts = n_changes - n_deletes_total
    outputs: list = []
    if n_upserts > 0:
        n_bins = max(
            1, math.ceil(n_upserts * avg_row_bytes / target_file_bytes)
        )
        outputs = table.write_data_files(
            upserts.repartitionByRange(
                n_bins, F.col("source"), F.col("doc_id")
            ).sortWithinPartitions("source", "doc_id")
        )
    timer.mark("write_s")

    def attempt() -> int:
        table.refresh()
        return table.commit(
            "overwrite",
            added=outputs,
            added_deletes=del_files,
            summary_extra={
                "kind": "merge-mor",
                "upserted": n_upserts,
                "delete-keys": n_changes,
            },
        )

    new_snap = retry_on_backoff(
        attempt, attempts=4, base_sleep_s=0.2, retry_on=(CommitConflict,)
    )
    timer.mark("commit_s")
    return MergeResult(
        snapshot_id=new_snap,
        inserted=n_upserts,
        deleted=n_deletes_total,
        details={
            "mode": "mor",
            "delete_files": len(del_files),
            "phase_seconds": timer.seconds,
            # matched/updated counts are unknowable without a read —
            # the whole point of MoR; 'inserted' here means 'upserted'
        },
    )


def _candidates_from_manifests_distributed(
    table: Table, snap, ch: DataFrame, n_changes: int, n_buckets: int = 1024
):
    """Candidate discovery WITHOUT materializing the file list on the
    driver: manifest shards parse in executors (manifest_entries_df),
    the doc_id interval check runs as the same bucketized equi-join as
    `_candidate_paths_distributed`, and only SURVIVING entries are
    collected — O(candidates) driver work at any table size. Entries
    without doc_id stats are conservatively candidates."""
    import json as _json

    from olake_spark.table.manifest_df import manifest_entries_df

    key_type = ch.schema["doc_id"].dataType.simpleString()
    ent = (
        manifest_entries_df(table, snap.snapshot_id)
        .withColumn(
            "_lo", F.get_json_object("stats", "$.doc_id.min").cast(key_type)
        )
        .withColumn(
            "_hi", F.get_json_object("stats", "$.doc_id.max").cast(key_type)
        )
        .persist()
    )
    try:
        keys_df = ch.select("doc_id")
        frac = min(1.0, (32 * n_buckets) / max(n_changes, 1))
        sample = sorted(
            r[0]
            for r in (
                keys_df.sample(False, frac, seed=42) if frac < 1.0 else keys_df
            ).collect()
        )
        cand_pred = None
        if sample:
            bnds = sorted(
                {
                    sample[min(len(sample) - 1, (i * len(sample)) // n_buckets)]
                    for i in range(1, n_buckets)
                }
            )
            fb = ent.filter(F.col("_lo").isNotNull()).withColumn(
                "b",
                F.explode(
                    F.sequence(
                        bin_expr("_lo", bnds), bin_expr("_hi", bnds)
                    )
                ),
            )
            kb = keys_df.withColumn("b", bin_expr("doc_id", bnds))
            hit_paths = (
                fb.join(kb, "b")
                .filter(F.col("doc_id").between(F.col("_lo"), F.col("_hi")))
                .select("path")
                .distinct()
            )
            cand_pred = ent.join(hit_paths, "path")
        no_stats = ent.filter(F.col("_lo").isNull())
        cand_df = (
            no_stats if cand_pred is None else cand_pred.unionByName(no_stats)
        )
        rows = cand_df.select(
            "path", "record_count", "file_size_bytes", "partition",
            "schema_id", "spec_col", "stats", "sequence_number", "content",
            "first_row_id", "lineage_cols",
        ).collect()
    finally:
        ent.unpersist()
    return sorted(
        (
            DataFile(
                path=r.path,
                record_count=r.record_count,
                file_size_bytes=r.file_size_bytes,
                partition=r.partition,
                stats=_json.loads(r.stats),
                schema_id=r.schema_id,
                spec_col=r.spec_col,
                # an unset sequence number (0) would spuriously attract
                # EVERY equality delete when the apply step scans the
                # candidates — silently dropping previously-upserted rows
                sequence_number=r.sequence_number or 0,
                content=r.content or "data",
                first_row_id=r.first_row_id,
                lineage_cols=bool(r.lineage_cols),
            )
            for r in rows
        ),
        key=lambda f: f.path,
    )


def _merge_apply(
    table: Table,
    ch: DataFrame,
    target_file_bytes: int,
    exact_prune_max_keys: int,
    distributed_planning: bool | None = None,
) -> MergeResult:
    timer = _PhaseTimer()
    table.refresh()
    snap = table.snapshot()
    schema = table.schema()
    out_cols = [f.name for f in schema.fields]
    is_del = F.col(CDC_DELETED_AT).isNotNull()

    # On MANY-SHARD tables the whole discovery goes through
    # manifest_entries_df so the driver never parses O(table) manifest
    # JSON or materializes the file list — only surviving candidates are
    # collected. Every other snapshot is planned on the driver.
    use_dist = distributed_planning
    if use_dist is None:
        use_dist = (
            snap is not None
            and len(snap.manifests) >= _DISTRIBUTED_PLANNING_MIN_SHARDS
        )
    driver_planned = not (use_dist and snap is not None)

    # --- 0. batch size, delete count and (small batches) the key lists.
    # Driver-planned batches of <= exact_prune_max_keys rows take all of
    # them from ONE bounded collect of (doc_id, _olake_id, delete flag) —
    # ~20 MB of driver rows at the default bound. The sorted doc_ids drive the exact
    # bisect prune below and commit_merge's conflict validation; the
    # flagged _olake_ids drive discovery. A batch that overflows the bound
    # is counted by an aggregate instead and pruned by the distributed
    # interval join.
    change_ids: list | None = None
    key_rows = (
        ch.select("doc_id", OLAKE_ID, is_del.alias("_isdel"))
        .limit(max(exact_prune_max_keys, 0) + 1)
        .collect()
        if driver_planned
        else None
    )
    if key_rows is not None and len(key_rows) <= exact_prune_max_keys:
        n_changes = len(key_rows)
        n_deletes_total = sum(r._isdel for r in key_rows)
        change_ids = sorted({r.doc_id for r in key_rows})
    else:
        stats = ch.agg(
            F.count("*").alias("n"),
            F.sum(is_del.cast("int")).alias("n_del"),
        ).first()
        n_changes = stats.n or 0
        n_deletes_total = stats.n_del or 0
    timer.mark("prepare_s")
    if n_changes == 0:
        return MergeResult(snapshot_id=None)

    # --- 1. candidate files via manifest doc_id pruning — EXACT at any
    # batch size: driver-side bisect of each file's [min,max] window
    # against the sorted key list when it was collected, else a
    # distributed bucketized interval join of manifest ranges vs change
    # keys (no global-bounds fallback, which on a hash-distributed doc_id
    # space would select ~every file).
    if not driver_planned:
        candidates = _candidates_from_manifests_distributed(
            table, snap, ch, n_changes
        )
    else:
        files = table.files(snap.snapshot_id) if snap else []
        if change_ids is not None:
            candidates = [
                f for f in files
                if stats_overlap(change_ids, f.stats.get("doc_id"))
            ]
        elif files:
            hit_paths = _candidate_paths_distributed(
                table.spark, files, ch.select("doc_id"), n_changes
            )
            candidates = [f for f in files if f.path in hit_paths]
        else:
            candidates = list(files)

    timer.mark("prune_s")
    keys = ch.select(OLAKE_ID)
    keys_b = _keys_for_join(keys, n_changes)

    # --- 2. which candidates actually contain a matched key — and how
    # many rows match, split by delete flag? ONE job over the candidate
    # scan answers both. With duplicate target keys the counts are
    # affected *target rows* (standard MERGE semantics); on the
    # unique-key tables this engine maintains, that equals the matched
    # change-key count. A batch of at most _INLINE_KEYS_MAX keys, already
    # collected in step 0, matches ~batch-size rows: the scan filters on
    # an inlined IN list of its keys (a hash-set probe, no broadcast job)
    # and the driver counts the collected (key, file) hits with the
    # collected delete flags — no aggregation exchange. A larger batch
    # joins the flagged keys and aggregates per file in the cluster.
    touched_paths: set[str] = set()
    n_matched = n_deletes_matched = 0
    if candidates:
        # with_position attaches the table-relative source path PER scan
        # branch before any union — input_file_name() cannot resolve over
        # the multi-source plan a delete-applying scan produces
        cand_df = table.scan(
            snapshot_id=snap.snapshot_id, files=candidates, with_position=True
        ).select(OLAKE_ID, "_file")
        if change_ids is not None and n_changes <= _INLINE_KEYS_MAX:
            is_del_of = {r[OLAKE_ID]: r._isdel for r in key_rows}
            for r in cand_df.filter(sql_in_list(OLAKE_ID, is_del_of)).collect():
                touched_paths.add(r._file)
                n_matched += 1
                n_deletes_matched += is_del_of[r[OLAKE_ID]]
        else:
            flags = ch.select(OLAKE_ID, is_del.cast("int").alias("_isdel"))
            per_file = (
                cand_df.join(_keys_for_join(flags, n_changes), OLAKE_ID)
                .groupBy("_file")
                .agg(F.count("*").alias("_n"), F.sum("_isdel").alias("_nd"))
                .collect()
            )
            for r in per_file:
                touched_paths.add(r._file)
                n_matched += r._n
                n_deletes_matched += r._nd or 0
    timer.mark("discover_s")
    touched = [f for f in candidates if f.path in touched_paths]
    # on the exact-partition path the rewrite's anti-join is the single
    # consumer — stream from parquet, no persist (the fallback branch
    # below persists, because repartitionByRange evaluates twice)
    lineage = table.row_lineage
    touched_scan = (
        table.scan(
            snapshot_id=snap.snapshot_id, files=touched, with_lineage=lineage
        )
        if touched
        else None
    )
    # with duplicate target keys (possible via raw append(), never via
    # merge itself) the counts are affected TARGET rows, so n_updates can
    # exceed the matched change-key count; clamp the derived insert count
    # at zero rather than report a negative
    n_updates = n_matched - n_deletes_matched
    n_inserts = max(0, (n_changes - n_deletes_total) - n_updates)

    # --- 3. rewrite touched files + append upserts
    now_ms = F.unix_micros(F.current_timestamp()) / F.lit(1000)
    upserts = (
        ch.filter(F.col(CDC_DELETED_AT).isNull())
        .withColumn(OLAKE_INSERT_TIME, now_ms.cast("long"))
        .select(*out_cols)
    )
    if lineage:
        # row lineage through CoW merge (Iceberg v3 semantics): an
        # UPDATE keeps the target row's _row_id and nulls
        # _last_updated_sequence_number (a materialized NULL resolves to
        # the new file's sequence number — the merge commit); an INSERT
        # writes NULL for both, claiming a fresh id from the file's
        # first_row_id block at read. The update-id carry is one
        # broadcast-key join against the touched scan.
        upserts = upserts.withColumn(
            LAST_UPDATED_SEQ, F.lit(None).cast("long")
        )
        if touched:
            # min() collapses duplicate target keys (possible via raw
            # append) so the carry join can never fan out an upsert row
            old_ids = (
                touched_scan.select(OLAKE_ID, ROW_ID)
                .join(keys_b, OLAKE_ID)
                .groupBy(OLAKE_ID)
                .agg(F.min(ROW_ID).alias(ROW_ID))
            )
            upserts = upserts.join(old_ids, OLAKE_ID, "left").select(
                *out_cols, ROW_ID, LAST_UPDATED_SEQ
            )
        else:
            upserts = upserts.withColumn(
                ROW_ID, F.lit(None).cast("long")
            ).select(*out_cols, ROW_ID, LAST_UPDATED_SEQ)
    if touched:
        keep_cols = (
            [*out_cols, ROW_ID, LAST_UPDATED_SEQ] if lineage else out_cols
        )
        kept = touched_scan.join(keys_b, OLAKE_ID, "left_anti").select(
            *keep_cols
        )
        result = kept.unionByName(upserts)
    else:
        result = upserts

    # output sizing must include INSERT volume: an insert-heavy batch with
    # few matched files would otherwise funnel through one range partition
    # into a single oversized file. Average row bytes come from manifest
    # stats (metadata only, no scan); on the distributed-planning path
    # the full file list was never materialized, so the (statistically
    # equivalent) candidate files stand in for the table-wide average.
    size_basis = candidates if use_dist else files
    tbl_rows = sum(f.record_count for f in size_basis)
    tbl_bytes = sum(f.file_size_bytes for f in size_basis)
    avg_row_bytes = (tbl_bytes / tbl_rows) if tbl_rows else 256.0
    bytes_est = (
        sum(f.file_size_bytes for f in touched)
        + int(n_inserts * avg_row_bytes)
        or 1
    )
    n_bins = max(1, math.ceil(bytes_est / target_file_bytes))
    str_keys = string_key_cols(schema, ["source", "doc_id"])
    insert_heavy = int(n_inserts * avg_row_bytes) > bytes_est // 4
    bnds = (
        _output_boundaries(
            table, touched, ch, n_changes, n_bins,
            sample_changes=insert_heavy,
        )
        if str_keys
        else None
    )
    fallback_persisted = None
    if bnds is not None:
        out_df = exact_range_partition(
            result, composite_key_expr(["source", "doc_id"]), bnds,
            ["source", "doc_id"],
        )
    else:
        # non-string keys or no usable driver-side sample:
        # repartitionByRange's sampling pass evaluates the child twice —
        # persist the touched scan so the second pass reads from cache
        # instead of re-scanning parquet and re-running the anti-join
        if touched_scan is not None:
            fallback_persisted = touched_scan.persist()
        out_df = result.repartitionByRange(
            n_bins, F.col("source"), F.col("doc_id")
        ).sortWithinPartitions("source", "doc_id")
    outputs = table.write_data_files(out_df)
    if fallback_persisted is not None:
        fallback_persisted.unpersist()
    timer.mark("write_s")
    new_snap = commit_merge(
        table,
        snap.snapshot_id if snap else None,
        touched,
        outputs,
        change_ids,
        {
            "kind": "merge",
            "inserted": n_inserts,
            "updated": n_updates,
            "deleted": n_deletes_matched,
        },
    )
    timer.mark("commit_s")
    return MergeResult(
        snapshot_id=new_snap,
        candidate_files=len(candidates),
        touched_files=len(touched),
        inserted=n_inserts,
        updated=n_updates,
        deleted=n_deletes_matched,
        details={"phase_seconds": timer.seconds},
    )
