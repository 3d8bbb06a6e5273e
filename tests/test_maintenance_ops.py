"""Maintenance-operator tests: compaction, clustering, merge, expiry,
ledger resume (SURVEY.md §5 invariants 1-5)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from olake_spark.datagen import generate_sequences
from olake_spark.operators.clustering import cluster
from olake_spark.operators.compaction import compact
from olake_spark.operators.expire import expire_snapshots
from olake_spark.operators.merge import merge_into
from olake_spark.schema import CDC_DELETED_AT, DATA_COLUMNS
from olake_spark.table import Table

N_ROWS = 4000


@pytest.fixture(scope="module")
def seq_df(spark):
    df = generate_sequences(spark, N_ROWS, seed=1, max_tok=96)
    df.cache().count()
    return df


@pytest.fixture()
def small_table(spark, tmp_path, seq_df):
    """~40 small mixed files — the compaction input fixture."""
    t = Table.create(spark, str(tmp_path / "tbl"))
    t.append(seq_df.repartition(40))
    return t


def _tokens_equal(a, b) -> bool:
    cols = ["doc_id", "tokens"]
    return (
        a.select(cols).exceptAll(b.select(cols)).count() == 0
        and b.select(cols).exceptAll(a.select(cols)).count() == 0
    )


def _per_source_counts(df):
    return {r.source: r["count"] for r in df.groupBy("source").count().collect()}


# ------------------------------------------------------------------ compaction
def test_compaction_binpack_zero_shuffle(spark, small_table, seq_df):
    """Default binpack mode: correctness + fewer files, no exchange."""
    t = small_table
    before = _per_source_counts(t.scan())
    res = compact(t, target_file_bytes=1 * 1024 * 1024, mode="binpack")
    assert res.rows == N_ROWS
    assert len(t.files()) < 40
    assert _tokens_equal(t.scan(), seq_df)
    assert _per_source_counts(t.scan()) == before


def test_compaction_end_to_end(spark, small_table, seq_df):
    t = small_table
    v1 = t.current_snapshot_id
    before = _per_source_counts(t.scan())
    res = compact(t, target_file_bytes=1 * 1024 * 1024, mode="sort")
    assert res.snapshot_id == t.current_snapshot_id != v1
    assert res.rows == N_ROWS
    after_files = t.files()
    assert len(after_files) < 40
    # invariant 1: byte-exact tokens; invariant 2: per-source counts
    assert _tokens_equal(t.scan(), seq_df)
    assert _per_source_counts(t.scan()) == before
    # invariant 3: snapshot isolation — v1 still lists the old files
    assert t.scan(snapshot_id=v1).count() == N_ROWS
    assert {f.path for f in t.files(v1)}.isdisjoint({f.path for f in after_files})
    # outputs are source-pure and doc_id-clustered (stats usable)
    pure = [f for f in after_files if f.partition is not None]
    assert len(pure) >= len(after_files) - 2  # range boundaries may mix


def test_compaction_idempotent_rerun(spark, small_table):
    r1 = compact(small_table, target_file_bytes=1024 * 1024)
    r2 = compact(small_table, target_file_bytes=1024 * 1024, snapshot_id=r1.snapshot_id - 1)
    # identical params on the source snapshot reuse the committed ledger
    assert r2.skipped and r2.snapshot_id == r1.snapshot_id


def test_compaction_resume_after_kill(spark, small_table, monkeypatch):
    """Kill between group execution and commit; restart must not rewrite."""
    t = small_table
    calls = {"n": 0}
    orig = Table.write_data_files

    def counting(self, df, max_records_per_file=None):
        calls["n"] += 1
        return orig(self, df, max_records_per_file)

    monkeypatch.setattr(Table, "write_data_files", counting)

    orig_commit = Table.commit

    def bomb(self, *a, **kw):
        raise RuntimeError("simulated driver kill before commit")

    monkeypatch.setattr(Table, "commit", bomb)
    with pytest.raises(RuntimeError, match="simulated"):
        compact(t, target_file_bytes=1024 * 1024)
    writes_first = calls["n"]
    assert writes_first >= 1

    monkeypatch.setattr(Table, "commit", orig_commit)
    res = compact(t, target_file_bytes=1024 * 1024)
    # invariant 4: zero duplicate rewrites on restart
    assert calls["n"] == writes_first
    assert res.snapshot_id == t.current_snapshot_id
    assert t.scan().count() == N_ROWS


def test_compaction_sort_handles_extreme_source_skew(spark, tmp_path, seq_df):
    """90%-hot source: the sampled range partitioner must split the hot
    key across as many output files as its bytes require — no giant
    straggler file (the north_star's skew-handling requirement)."""
    hot = seq_df.withColumn(
        "source",
        F.when(F.rand(7) < 0.9, F.lit("hot")).otherwise(F.col("source")),
    )
    t = Table.create(spark, str(tmp_path / "tbl"))
    t.append(hot.repartition(40))
    res = compact(t, target_file_bytes=64 * 1024, mode="sort")
    assert res.rows == N_ROWS
    files = t.files()
    hot_files = [f for f in files if f.partition == "hot"]
    assert len(hot_files) >= 5  # hot source spread over many files
    sizes = sorted(f.file_size_bytes for f in files)
    # no output file an order of magnitude above target
    assert sizes[-1] < 64 * 1024 * 4
    assert t.scan().filter(F.col("source") == "hot").count() == \
        hot.filter(F.col("source") == "hot").count()


def test_compaction_skips_when_nothing_small(spark, small_table):
    compact(small_table, target_file_bytes=1024 * 1024)
    res = compact(small_table, target_file_bytes=1024)  # everything is "big"
    assert res.skipped


# ------------------------------------------------------------------ clustering
@pytest.mark.parametrize("curve", ["zorder", "hilbert"])
def test_cluster_preserves_data_and_improves_locality(spark, small_table, seq_df, curve):
    t = small_table
    spans_before = [
        f.stats["n_tok"]["max"] - f.stats["n_tok"]["min"]
        for f in t.files()
        if "n_tok" in f.stats
    ]
    res = cluster(t, curve=curve, target_file_bytes=512 * 1024)
    assert res.rows == N_ROWS
    assert _tokens_equal(t.scan(), seq_df)
    spans_after = [
        f.stats["n_tok"]["max"] - f.stats["n_tok"]["min"]
        for f in t.files()
        if "n_tok" in f.stats
    ]
    # curve locality: per-file n_tok span shrinks vs the random layout
    assert sum(spans_after) / len(spans_after) < sum(spans_before) / len(spans_before)


def test_cluster_per_source_scope(spark, tmp_path, seq_df):
    """Partition-scoped clustering: source-pure inputs stay source-pure
    through the within-source curve rewrite, data preserved byte-exactly."""
    from olake_spark.datagen import SOURCES

    t = Table.create(spark, str(tmp_path / "tbl"))
    # guaranteed source-pure layout: one append per source (hash
    # repartition by source would collide sources into mixed files, and
    # Catalyst collapses unions of coalesced children into one partition)
    for s in SOURCES[:6]:
        t.append(seq_df.filter(F.col("source") == s).coalesce(1))
    rest = seq_df.filter(~F.col("source").isin(list(SOURCES[:6])))
    for s in SOURCES[6:]:
        t.append(rest.filter(F.col("source") == s).coalesce(1))
    res = cluster(t, curve="zorder", scope="per-source", target_file_bytes=64 * 1024)
    assert res.rows == N_ROWS
    assert _tokens_equal(t.scan(), seq_df)
    files = t.files()
    pure = [f for f in files if f.partition is not None]
    assert len(pure) >= len(files) - 2
    # within-source n_tok locality: files of one source have narrow spans
    webs = [f for f in files if f.partition == "web" and "n_tok" in f.stats]
    if len(webs) >= 3:
        spans = sorted(f.stats["n_tok"]["max"] - f.stats["n_tok"]["min"] for f in webs)
        assert spans[0] < 96 - 8  # at least some files are narrower than full range


def test_cluster_improves_scan_pruning(spark, small_table):
    t = small_table
    cluster(t, curve="zorder", target_file_bytes=256 * 1024)
    files = t.files()
    lo, hi = 8, 20
    cand = [f for f in files if f.overlaps("n_tok", lo, hi)]
    assert len(cand) < len(files)  # stats now prune a narrow n_tok scan
    true_count = t.scan().filter(F.col("n_tok").between(lo, hi)).count()
    assert t.scan(n_tok_range=(lo, hi)).count() == true_count


def test_cluster_resume_after_kill(spark, small_table, monkeypatch):
    """Clustering shares the ledger machinery — same zero-duplicate
    resume guarantee as compaction."""
    t = small_table
    calls = {"n": 0}
    orig = Table.write_data_files

    def counting(self, df, max_records_per_file=None):
        calls["n"] += 1
        return orig(self, df, max_records_per_file)

    monkeypatch.setattr(Table, "write_data_files", counting)
    orig_commit = Table.commit
    monkeypatch.setattr(
        Table, "commit", lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("kill"))
    )
    with pytest.raises(RuntimeError, match="kill"):
        cluster(t, curve="zorder", target_file_bytes=512 * 1024)
    writes_first = calls["n"]
    monkeypatch.setattr(Table, "commit", orig_commit)
    res = cluster(t, curve="zorder", target_file_bytes=512 * 1024)
    assert calls["n"] == writes_first  # zero duplicate rewrites
    assert res.snapshot_id == t.current_snapshot_id
    assert t.scan().count() == N_ROWS


# ----------------------------------------------------------------------- merge
def test_merge_insert_update_delete(spark, small_table, seq_df):
    t = small_table
    compact(t, target_file_bytes=1024 * 1024)
    pre_files = {f.path for f in t.files()}

    sample = seq_df.orderBy("doc_id").limit(60).collect()
    upd = [r.doc_id for r in sample[:20]]
    dele = [r.doc_id for r in sample[20:35]]

    updates = (
        seq_df.filter(F.col("doc_id").isin(upd))
        .select(*DATA_COLUMNS)
        .withColumn("tokens", F.array([F.lit(i) for i in range(5)]).cast("array<int>"))
        .withColumn("n_tok", F.lit(5))
    )
    deletes = (
        seq_df.filter(F.col("doc_id").isin(dele))
        .select(*DATA_COLUMNS)
        .withColumn(CDC_DELETED_AT, F.current_timestamp())
    )
    inserts = spark.createDataFrame(
        [("zz-new-0001", list(range(7)), 7, "web"), ("zz-new-0002", [1, 2], 2, "books")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    changes = (
        updates.withColumn(CDC_DELETED_AT, F.lit(None).cast("timestamp"))
        .unionByName(deletes)
        .unionByName(
            inserts.withColumn(CDC_DELETED_AT, F.lit(None).cast("timestamp"))
        )
    )
    res = merge_into(t, changes)
    assert (res.inserted, res.updated, res.deleted) == (2, 20, 15)
    assert res.touched_files <= res.candidate_files <= len(pre_files)

    cur = t.scan()
    assert cur.count() == N_ROWS - 15 + 2
    assert cur.filter(F.col("doc_id").isin(dele)).count() == 0
    got_upd = cur.filter(F.col("doc_id").isin(upd)).select("tokens").collect()
    assert all(r.tokens == [0, 1, 2, 3, 4] for r in got_upd)
    assert cur.filter(F.col("doc_id").startswith("zz-new")).count() == 2
    # exactly-once: no duplicated keys after merge
    assert cur.groupBy("_olake_id").count().filter("count > 1").count() == 0
    # untouched files carried over unchanged
    post_files = {f.path for f in t.files()}
    assert len(pre_files & post_files) == len(pre_files) - res.touched_files


def test_merge_distributed_pruning_matches_bisect(spark, small_table, seq_df):
    """The >100k-key path (bucketized interval join) must select the same
    candidate files as the exact driver-side bisect — forced here with
    exact_prune_max_keys=0 on a doc_id-clustered table and a scattered
    key batch, asserting candidates << total files (no global-bounds
    degradation)."""
    from olake_spark.operators.merge import _candidate_paths_distributed

    t = small_table
    compact(t, target_file_bytes=64 * 1024, mode="sort")  # doc_id-clustered
    files = t.files()
    assert len(files) >= 10

    # scattered batch: every 40th doc by doc_id (hits many ranges but not all)
    ids = [r.doc_id for r in seq_df.select("doc_id").orderBy("doc_id").collect()]
    batch_ids = ids[:: len(ids) // 30][:15]
    keys_df = spark.createDataFrame([(i,) for i in batch_ids], "doc_id string")

    import bisect

    sids = sorted(batch_ids)

    def _hits(f):
        st = f.stats.get("doc_id")
        if not st or st.get("min") is None:
            return True
        i = bisect.bisect_left(sids, st["min"])
        return i < len(sids) and sids[i] <= st["max"]

    expect = {f.path for f in files if _hits(f)}
    got = _candidate_paths_distributed(spark, files, keys_df, len(batch_ids))
    assert got == expect
    assert 0 < len(got) < len(files)

    # end-to-end through merge_into with the distributed path forced
    changes = (
        seq_df.filter(F.col("doc_id").isin(batch_ids))
        .select(*DATA_COLUMNS)
        .withColumn("n_tok", F.lit(1))
        .withColumn("tokens", F.expr("slice(tokens, 1, 1)"))
    )
    res = merge_into(t, changes, exact_prune_max_keys=0)
    assert res.updated == len(batch_ids)
    assert res.candidate_files == len(expect) < len(files)
    assert t.scan().filter(F.col("doc_id").isin(batch_ids)).agg(
        F.max("n_tok")
    ).first()[0] == 1


def test_merge_insert_heavy_sizes_output(spark, small_table, seq_df):
    """An insert-only batch with no matched files must still fan out to
    ~batch_bytes/target files, not one giant file."""
    t = small_table
    compact(t, target_file_bytes=1024 * 1024)
    inserts = (
        seq_df.limit(2000)
        .select(*DATA_COLUMNS)
        .withColumn("doc_id", F.concat(F.lit("zznew-"), F.col("doc_id")))
    )
    pre = {f.path for f in t.files()}
    res = merge_into(t, inserts, target_file_bytes=64 * 1024)
    assert res.inserted == 2000 and res.touched_files == 0
    new_files = [f for f in t.files() if f.path not in pre]
    assert len(new_files) > 3  # sized by insert volume, not touched bytes


def test_merge_is_noop_for_unknown_deletes(spark, small_table):
    t = small_table
    n0 = t.scan().count()
    ghost = spark.createDataFrame(
        [("nope-123", [1], 1, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).withColumn(CDC_DELETED_AT, F.current_timestamp())
    res = merge_into(t, ghost)
    assert res.deleted == 0 and res.inserted == 0
    assert t.scan().count() == n0


def _small_cdc_batch(spark, seq_df):
    """Upserts, deletes, two new keys and one key sent twice (``seq``
    orders the repeats: the later upsert wins), on two of four doc_id
    ranges. Cached, like a CDC consumer's batch."""
    ids = [r.doc_id for r in seq_df.select("doc_id").orderBy("doc_id").collect()]
    upd, dele, twice = ids[:8], ids[1100:1104], ids[10]
    base = seq_df.select(*DATA_COLUMNS)
    no_del = F.lit(None).cast("timestamp")
    rows = (
        base.filter(F.col("doc_id").isin(upd))
        .withColumn("n_tok", F.lit(3))
        .withColumn(CDC_DELETED_AT, no_del)
        .withColumn("seq", F.lit(0))
        .unionByName(
            base.filter(F.col("doc_id").isin(dele))
            .withColumn(CDC_DELETED_AT, F.current_timestamp())
            .withColumn("seq", F.lit(0))
        )
        .unionByName(
            spark.createDataFrame(
                [("zz-new-1", [1, 2], 2, "web", None, 0),
                 ("zz-new-2", [3], 1, "books", None, 0),
                 (twice, [7], 1, "web", None, 0),
                 (twice, [8, 9], 2, "web", None, 1)],
                "doc_id string, tokens array<int>, n_tok int, source string, "
                f"{CDC_DELETED_AT} timestamp, seq int",
            )
        )
    )
    return rows.cache(), upd, dele, twice


def _checksum(df):
    r = df.select(
        F.sum(F.xxhash64(*DATA_COLUMNS).cast("decimal(38,0)")), F.count("*")
    ).first()
    return tuple(r)


def _merge_counts(res):
    return (res.inserted, res.updated, res.deleted,
            res.candidate_files, res.touched_files)


def test_small_cow_merge_job_budget(spark, tmp_path, seq_df):
    """A driver-planned CoW batch runs in at most 8 Spark jobs: one
    bounded key collect gives the counts, the prune keys and the
    validation keys, and discovery counts matched rows on the driver."""
    t = Table.create(spark, str(tmp_path / "tbl"))
    t.append(seq_df.repartitionByRange(4, "doc_id"))
    assert len(t.files()) == 4
    changes, upd, dele, twice = _small_cdc_batch(spark, seq_df)
    changes.count()
    sc = spark.sparkContext
    group = f"merge-budget-{id(t)}"
    sc.setJobGroup(group, "small CoW merge")
    try:
        res = merge_into(t, changes, dedup_order_col="seq")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        changes.unpersist()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 8, n_jobs
    assert (res.inserted, res.updated, res.deleted) == (2, len(upd) + 1, len(dele))
    assert res.touched_files <= res.candidate_files < 4
    cur = t.scan()
    assert cur.count() == N_ROWS - len(dele) + 2
    assert cur.filter(F.col("doc_id") == twice).first().tokens == [8, 9]
    assert set(res.details["phase_seconds"]) == {
        "prepare_s", "prune_s", "discover_s", "write_s", "commit_s"
    }


def test_small_cow_merge_matches_distributed_prune(
    spark, tmp_path, seq_df, monkeypatch
):
    """The small-batch path (driver prune, inlined key filter), driver
    prune with the aggregating discovery (batch above _INLINE_KEYS_MAX)
    and the distributed prune (exact_prune_max_keys=1) apply the same
    batch to copies of one table with identical results, counts and file
    selection."""
    import shutil

    import olake_spark.operators.merge as m

    src = Table.create(spark, str(tmp_path / "a"))
    src.append(seq_df.repartitionByRange(4, "doc_id"))
    for name in ("b", "c"):
        shutil.copytree(src.root, str(tmp_path / name))
    changes, *_ = _small_cdc_batch(spark, seq_df)
    out = {}
    for name, max_keys, inline_max in (
        ("a", 100_000, m._INLINE_KEYS_MAX), ("b", 100_000, 0), ("c", 1, 0),
    ):
        monkeypatch.setattr(m, "_INLINE_KEYS_MAX", inline_max)
        t = Table.load(spark, str(tmp_path / name))
        res = merge_into(
            t, changes, dedup_order_col="seq", exact_prune_max_keys=max_keys
        )
        out[name] = (_merge_counts(res), _checksum(t.scan()))
    changes.unpersist()
    assert out["a"] == out["b"] == out["c"]
    assert out["a"][0][3] < 4  # pruning selected a strict subset


# ---------------------------------------------------------------- partitioning
def test_bin_expr_string_boundaries_match_bisect(spark):
    """The SQL-text bin tree quotes string boundaries exactly: bin ids
    equal Python's bisect_right for quotes, backslashes, tabs, control
    bytes and non-ASCII text."""
    import bisect

    from olake_spark.functions.partitioning import bin_expr

    bnds = sorted(["a'b", "a\\b", "a\tb", "é", "日本", "it's\\", "m", "\\'",
                   "\x01x"])
    keys = bnds + ["", "a", "a'", "a'c", "a\\", "a\\c", "a\t", "z", "é'x",
                   "日本語", "\\", "'", "\x00", "\x01", "~", "it's", "\\''"]
    got = dict(
        spark.createDataFrame([(k,) for k in keys], "k string")
        .select("k", bin_expr("k", bnds).alias("b"))
        .collect()
    )
    assert got == {k: bisect.bisect_right(bnds, k) for k in keys}


def test_exact_range_partition_keeps_input_helper_named_columns(spark):
    """An input column that shares a helper's name (_bin_key, _bin)
    passes through exact_range_partition with its values intact."""
    from olake_spark.functions.partitioning import exact_range_partition

    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("_bin_key"),
        F.lit("keep").alias("_bin"),
    )
    out = exact_range_partition(df, F.col("k"), [50, 100, 150], ["k"])
    assert out.columns == ["k", "_bin_key", "_bin"]
    rows = out.collect()
    assert len(rows) == 200
    assert all(r._bin_key == 3 * r.k and r._bin == "keep" for r in rows)


# ---------------------------------------------------------------------- expire
def test_expire_and_orphan_cleanup(spark, small_table, seq_df):
    t = small_table
    v1 = t.current_snapshot_id
    compact(t, target_file_bytes=1024 * 1024)
    # abandoned attempt -> orphan files on disk
    t.write_data_files(seq_df.limit(50).repartition(1))
    n_parquet_before = len(
        glob.glob(os.path.join(t.root, "data", "**", "*.parquet"), recursive=True)
    )
    res = expire_snapshots(t, keep_last=1)
    assert v1 in res.expired_snapshots
    assert res.deleted_data_files > 0
    n_parquet_after = len(
        glob.glob(os.path.join(t.root, "data", "**", "*.parquet"), recursive=True)
    )
    assert n_parquet_after < n_parquet_before
    assert n_parquet_after == len(t.files())
    # current snapshot fully intact
    assert t.scan().count() == N_ROWS
    assert _tokens_equal(t.scan(), seq_df)
    # expired snapshot no longer reachable
    with pytest.raises(KeyError):
        t.scan(snapshot_id=v1)
    # fresh load agrees
    assert Table.load(spark, t.root).total_rows() == N_ROWS


def test_abandoned_ledger_expiry_unpins_outputs(spark, small_table, monkeypatch):
    """An uncommitted job nobody resumes must not pin its outputs
    forever: with abandoned_job_ms the stale ledger is removed and the
    outputs become GC-able orphans."""
    t = small_table
    monkeypatch.setattr(
        Table, "commit", lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("kill"))
    )
    with pytest.raises(RuntimeError, match="kill"):
        compact(t, target_file_bytes=512 * 1024)
    monkeypatch.undo()

    from olake_spark.plans.ledger import Ledger

    jid = os.listdir(os.path.join(t.root, "jobs"))[0]
    outs = [o["path"] for o in Ledger.for_job(t.root, jid).all_outputs()]
    assert outs
    # fresh ledger: protected even with aggressive orphan GC
    expire_snapshots(t, keep_last=1, abandoned_job_ms=60_000)
    assert all(os.path.exists(t.abs_path(p)) for p in outs)
    # age the ledger past the threshold -> ledger dir removed, outputs GC'd
    lp = os.path.join(t.root, "jobs", jid, "ledger.json")
    old = os.path.getmtime(lp) - 120
    os.utime(lp, (old, old))
    expire_snapshots(t, keep_last=1, abandoned_job_ms=60_000)
    assert not os.path.exists(os.path.join(t.root, "jobs", jid))
    assert all(not os.path.exists(t.abs_path(p)) for p in outs)
    assert t.scan().count() == N_ROWS  # current data untouched


def test_orphan_cleanup_spares_uncommitted_job_outputs(
    spark, small_table, seq_df, monkeypatch
):
    """GC during an interrupted maintenance job must not delete the job's
    done-group outputs (the resume path commits them); and if outputs DO
    vanish, resume re-runs the group instead of committing dangling refs."""
    t = small_table
    orig_commit = Table.commit
    monkeypatch.setattr(
        Table, "commit", lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("kill"))
    )
    with pytest.raises(RuntimeError, match="kill"):
        cluster(t, curve="zorder", target_file_bytes=512 * 1024)
    monkeypatch.setattr(Table, "commit", orig_commit)

    from olake_spark.plans.ledger import Ledger

    jobs = os.listdir(os.path.join(t.root, "jobs"))
    assert len(jobs) == 1
    ledger = Ledger.for_job(t.root, jobs[0])
    outs = [o["path"] for o in ledger.all_outputs()]
    assert outs, "interrupted job should have done-group outputs"

    # aggressive GC (grace 0) — uncommitted job outputs must survive
    expire_snapshots(t, keep_last=1, orphan_grace_ms=0)
    assert all(os.path.exists(t.abs_path(p)) for p in outs)

    # now lose one output anyway; resume must re-run that group, not
    # commit a snapshot referencing the missing file
    os.remove(t.abs_path(outs[0]))
    res = cluster(t, curve="zorder", target_file_bytes=512 * 1024)
    assert res.snapshot_id == t.current_snapshot_id
    assert all(os.path.exists(t.abs_path(f.path)) for f in t.files())
    assert t.scan().count() == N_ROWS
    assert _tokens_equal(t.scan(), seq_df)


def test_merge_broadcast_threshold_is_bytes_based(spark, small_table, seq_df, monkeypatch):
    """The change-key broadcast decision is a BYTE estimate, not a row
    count: a 1M-key batch (~72 MB of md5 strings on-heap) must not carry
    a broadcast hint; below the cap it must. And forcing the non-hint
    path produces identical merge results."""
    import olake_spark.operators.merge as m

    def has_hint(df):
        return "hints=[" in df._jdf.queryExecution().analyzed().toString() or \
               "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()

    from olake_spark.session import broadcast_cap_bytes

    keys = spark.range(1_000_000).select(F.md5(F.col("id").cast("string")).alias("_olake_id"))
    assert 1_000_000 * m.BROADCAST_KEY_BYTES > broadcast_cap_bytes(spark)
    assert not has_hint(m._keys_for_join(keys, 1_000_000))
    assert has_hint(m._keys_for_join(keys.limit(10), 10))

    # results are unchanged when the hint is withheld (AQE path)
    t = small_table
    compact(t, target_file_bytes=1024 * 1024)
    batch = (
        seq_df.orderBy("doc_id").limit(25)
        .select(*DATA_COLUMNS)
        .withColumn("tokens", F.array(F.lit(9)).cast("array<int>"))
        .withColumn("n_tok", F.lit(1))
        .withColumn(CDC_DELETED_AT, F.lit(None).cast("timestamp"))
    )
    # -1 disables broadcasting session-wide; the cap is the ONE source
    # of truth shared by merge key joins and the MoR delete anti-joins
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert broadcast_cap_bytes(spark) == 0
        assert not has_hint(m._keys_for_join(keys.limit(10), 10))
        res = m.merge_into(t, batch)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert (res.inserted, res.updated, res.deleted) == (0, 25, 0)
    cur = t.scan()
    assert cur.count() == N_ROWS
    assert cur.filter(F.col("n_tok") == 1).count() == 25


def test_incremental_clustering_rewrites_only_churn(spark, tmp_path):
    from olake_spark.datagen import generate_sequences
    from olake_spark.operators.clustering import cluster
    from olake_spark.table import Table

    t = Table.create(spark, str(tmp_path / "inc"))
    a = generate_sequences(spark, 1500, seed=41, max_tok=32)
    t.append(a.repartition(8))
    cluster(t, curve="zorder", target_file_bytes=256 * 1024)
    s_sorted = t.current_snapshot_id
    sorted_paths = {f.path for f in t.files()}

    b = generate_sequences(spark, 500, seed=43, max_tok=32).withColumn(
        "doc_id", F.concat(F.lit("zz-"), F.col("doc_id"))
    )
    t.append(b.repartition(4))

    res = cluster(
        t, curve="zorder", target_file_bytes=256 * 1024,
        since_snapshot_id=s_sorted,
    )
    assert not res.skipped and res.rows == 500  # only the churn
    after = {f.path for f in t.refresh().files()}
    # every previously-sorted file kept its path; B's 4 files are gone
    assert sorted_paths <= after
    assert t.scan().count() == 2000
    assert t.scan().filter(F.col("doc_id").startswith("zz-")).count() == 500

    # nothing new since the incremental pass -> skip, no snapshot
    res2 = cluster(
        t, curve="zorder", target_file_bytes=256 * 1024,
        since_snapshot_id=t.current_snapshot_id,
    )
    assert res2.skipped


def test_compaction_scoped_by_sources_and_range(spark, tmp_path, seq_df):
    """Predicate-scoped rewrite (Iceberg rewrite_data_files filter):
    only files overlapping the scope are rewritten; everything else
    keeps its path, and the table's rows are untouched either way."""
    t = Table.create(spark, str(tmp_path / "tbl"))
    # two partition-pure appends -> 2 small files per source (exact
    # routing writes one file per source per append), so every source
    # forms a compactable group
    t.append(seq_df.repartition(30), distribute="partition")
    t.append(seq_df.repartition(30), distribute="partition")
    before = t.scan().cache()
    before.count()
    srcs = sorted({f.partition for f in t.files() if f.partition})
    hot = srcs[0]
    untouched_before = {
        f.path for f in t.files() if f.partition and f.partition != hot
    }
    res = compact(t, target_file_bytes=4 << 20, sources=[hot])
    assert not res.skipped
    t.refresh()
    after = {f.path for f in t.files()}
    assert untouched_before <= after  # other sources never rewritten
    assert all(
        f.partition != hot or f.path not in untouched_before
        for f in t.files()
    )
    assert _tokens_equal(t.scan(), before)

    # range scoping: compact only the low-n_tok tail; job ids differ so
    # the scoped job doesn't collide with a prior full compact
    t2 = Table.create(spark, str(tmp_path / "tbl2"))
    t2.append(seq_df.repartition(30))
    t2_before = t2.scan().cache()
    t2_before.count()
    out_of_range = {
        f.path for f in t2.files() if not f.overlaps("n_tok", 8, 16)
    }
    in_range = [f for f in t2.files() if f.overlaps("n_tok", 8, 16)]
    res2 = compact(t2, target_file_bytes=4 << 20, where={"n_tok": (8, 16)})
    t2.refresh()
    assert not res2.skipped
    assert res2.input_files == len(in_range)
    # files outside the range keep their exact paths — a where filter
    # that silently matched everything would rewrite them
    assert out_of_range <= {f.path for f in t2.files()}
    assert _tokens_equal(t2.scan(), t2_before)
    t2_before.unpersist()
    # distributed planning path agrees on the candidate set
    t3 = Table.create(spark, str(tmp_path / "tbl3"))
    t3.append(seq_df.repartition(30), distribute="partition")
    t3.append(seq_df.repartition(30), distribute="partition")
    r_local = compact(
        t3, target_file_bytes=4 << 20, sources=[hot],
        distributed_planning=False, job_id="scoped-local",
    )
    assert r_local.input_files > 0
    t4 = Table.create(spark, str(tmp_path / "tbl4"))
    t4.append(seq_df.repartition(30), distribute="partition")
    t4.append(seq_df.repartition(30), distribute="partition")
    r_dist = compact(
        t4, target_file_bytes=4 << 20, sources=[hot],
        distributed_planning=True, job_id="scoped-dist",
    )
    assert r_dist.input_files == r_local.input_files


def test_distributed_compaction_preserves_mor_upserts(spark, tmp_path, seq_df):
    """Review finding: the distributed planner reconstructed DataFile
    without sequence_number, so every equality delete applied to every
    candidate and upserted rows vanished from the committed rewrite."""
    from pyspark.sql import functions as F

    from olake_spark.operators.merge import merge_into
    from olake_spark.schema import CDC_DELETED_AT, DATA_COLUMNS

    t = Table.create(spark, str(tmp_path / "tbl"))
    t.append(seq_df.repartition(10))
    # MoR upsert: eq-delete kills the old row version at seq N, the new
    # version lands in a data file at the SAME seq (deletes apply only
    # to strictly-older files)
    changes = (
        t.scan().select(*DATA_COLUMNS).orderBy("doc_id").limit(50)
        .withColumn("n_tok", F.lit(4))
        .withColumn("tokens", F.expr("slice(tokens, 1, 4)"))
        .withColumn(CDC_DELETED_AT, F.lit(None).cast("timestamp"))
    )
    merge_into(t, changes, target_file_bytes=4 << 20, mode="mor")
    t.refresh()
    before = t.scan().cache()
    n = before.count()
    upserted = before.where("n_tok = 4").count()
    assert upserted == 50
    n_files = len(t.files())
    # min_group_files=1 forces the upsert file (alone in its partition
    # bucket) into the rewrite — it is the ONLY file whose sequence
    # number distinguishes applicable deletes, so leaving it out would
    # make this test pass even with the bug present
    res = compact(
        t, target_file_bytes=64 << 20, distributed_planning=True,
        min_group_files=1,
    )
    assert not res.skipped
    assert res.input_files == n_files
    t.refresh()
    assert t.scan().count() == n
    # the upserted versions must survive the rewrite
    assert t.scan().where("n_tok = 4").count() == 50
    assert _tokens_equal(t.scan(), before)
    before.unpersist()


def test_distributed_merge_discovery_preserves_mor_upserts(
    spark, tmp_path, seq_df
):
    """Same bug class as distributed compaction: merge's distributed
    candidate discovery must carry sequence numbers, or the CoW apply
    scan over-applies live equality deletes and drops upserted rows."""
    from pyspark.sql import functions as F

    from olake_spark.operators.merge import merge_into
    from olake_spark.schema import CDC_DELETED_AT, DATA_COLUMNS

    t = Table.create(spark, str(tmp_path / "tbl"))
    t.append(seq_df.repartition(8))
    # round 1: MoR upsert leaves a live eq-delete + an upsert file
    up1 = (
        t.scan().select(*DATA_COLUMNS).orderBy("doc_id").limit(40)
        .withColumn("n_tok", F.lit(4))
        .withColumn("tokens", F.expr("slice(tokens, 1, 4)"))
        .withColumn(CDC_DELETED_AT, F.lit(None).cast("timestamp"))
    )
    merge_into(t, up1, target_file_bytes=4 << 20, mode="mor")
    t.refresh()
    n = t.scan().count()
    # round 2: CoW merge with DISTRIBUTED discovery touching the
    # upserted keys — their file must keep its sequence number or the
    # apply scan kills the round-1 versions before rewriting
    up2 = (
        t.scan().select(*DATA_COLUMNS).orderBy("doc_id").limit(40)
        .withColumn("n_tok", F.lit(5))
        .withColumn(CDC_DELETED_AT, F.lit(None).cast("timestamp"))
    )
    res = merge_into(
        t, up2, target_file_bytes=4 << 20, distributed_planning=True
    )
    t.refresh()
    assert res.updated == 40
    assert t.scan().count() == n
    assert t.scan().where("n_tok = 5").count() == 40
    assert t.scan().where("n_tok = 4").count() == 0


def test_scoped_clustering(spark, tmp_path, seq_df):
    """cluster(sources=) rewrites only the scoped partition's files."""
    from olake_spark.operators.clustering import cluster

    t = Table.create(spark, str(tmp_path / "tbl"))
    t.append(seq_df.repartition(20), distribute="partition")
    before = t.scan().cache()
    before.count()
    hot = sorted({f.partition for f in t.files() if f.partition})[0]
    hot_paths = {f.path for f in t.files() if f.partition == hot}
    cold = {f.path for f in t.files() if f.partition != hot}
    res = cluster(
        t, curve="zorder", target_file_bytes=4 << 20, sources=[hot],
        scope="per-source",
    )
    assert not res.skipped
    t.refresh()
    after = {f.path for f in t.files()}
    assert cold <= after
    # EVERY hot file was selected and rewritten — a prune regression
    # that silently drops in-scope files must not pass
    assert hot_paths.isdisjoint(after)
    assert _tokens_equal(t.scan(), before)
    before.unpersist()
