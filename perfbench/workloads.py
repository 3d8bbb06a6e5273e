"""The benchmark workloads. Each has ``setup`` (input builds, then an
untimed warm-up on the built input), ``measure`` (closed loop for ``run.seconds``) and ``finish``
(end-of-run correctness checks and per-layer extras). Inputs are pure
functions of ``run.seed``."""

from __future__ import annotations

import os
import random
import re
import shutil
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

# engine calls go through module attributes (``merge.merge_into``), so the
# traced run's wrappers (layers.py) see them
from olake_spark.datagen import GEN_SCHEMA, arrow_batch
from olake_spark.operators import (
    clustering,
    compaction,
    dedup,
    deletes,
    expire,
    manifests,
    merge,
    text,
)
from olake_spark.pipelines import curation
from olake_spark.schema import CDC_DELETED_AT, with_system_columns
from olake_spark.table import Table

MB = 1e6
CHECKSUM = "bit_xor(xxhash64(doc_id, n_tok, tokens))"


def clock() -> float:
    return time.perf_counter()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def checksum(df):
    r = df.agg(F.count("*").alias("n"), F.expr(CHECKSUM).alias("ck")).first()
    return r.n, r.ck


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def added_bytes(table: Table, before: set[str]) -> int:
    return sum(f.file_size_bytes for f in table.files() if f.path not in before)


def paths_of(table: Table) -> set[str]:
    return {f.path for f in table.files()}


class Workload:
    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.cores = self.spark.sparkContext.defaultParallelism
        self.warmup_s = 0.0

    def setup(self) -> None:
        """Input builds (each timed into run.builds), then an untimed
        warm-up on the built input, so measured cycles find the JIT and
        the Python workers warm."""
        self.build()
        t0 = clock()
        self.warmup()
        self.warmup_s = clock() - t0

    MIN_CYCLES = 2  # a traced run needs one traced and one untraced cycle

    def measure(self) -> None:
        deadline = clock() + self.run.seconds
        cycle = 0
        while cycle < self.MIN_CYCLES or clock() < deadline:
            traced = self.run.traced(cycle)
            self.cycle(cycle, traced)
            cycle += 1
        if self.run.tracer is not None:
            self.run.tracer.active = False

    def floors(self, paths: list[str]) -> dict[str, float]:
        """Bare-Spark floors over the same bytes, same JVM and window:
        read->noop, read->parquet write, read->round-robin shuffle->noop."""
        out_dir = os.path.join(self.run.work, "floor")
        reps: dict[str, list[float]] = {"read_noop": [], "read_write": [], "shuffle": []}
        for _ in range(3):
            df = self.spark.read.parquet(*paths)
            t = clock()
            noop(df)
            reps["read_noop"].append(clock() - t)
            t = clock()
            df.write.mode("overwrite").parquet(out_dir)
            reps["read_write"].append(clock() - t)
            t = clock()
            noop(df.repartition(2 * self.cores))
            reps["shuffle"].append(clock() - t)
        shutil.rmtree(out_dir, ignore_errors=True)
        return {f"floor.{k}_s": statistics.median(v) for k, v in reps.items()}


# --------------------------------------------------------------------- cdc


class Cdc(Workload):
    """CDC tail on a tokenized table. Setup ingests COMMITS append commits
    of one small file each, then one maintenance step runs the paper's
    rewrite job (compact, then zorder cluster, then a narrow n_tok scan),
    then delete_where, materialize_deletes, rewrite_manifests and
    expire_snapshots; its timings are per-layer only. The closed loop
    applies seeded ~0.5% change batches through merge_into (CoW) to the
    maintained table, each followed by read-your-write point lookups and a
    range scan."""

    ROWS = 8_000
    MAX_TOK = 512
    # below SCAN_DISTRIBUTED_MIN_SHARDS (64): at 64 shards one merge plans
    # for ~5 s and each point lookup for ~1.2 s on 4 cores, which leaves
    # no room for a steady loop in the run's time budget. 24 files of
    # ~2/3 the rewrite target, so compaction has small files to pack.
    COMMITS = 24
    SCATTER_EVERY = 4  # one batch in four takes scattered keys (b = 2, 6, ..)
    MIN_CYCLES = 3  # so every run has one scattered batch
    RANGE = (100, 110)
    NARROW = (8, 64)

    def _gen(self, ids_df):
        seed, max_tok = self.run.seed, self.MAX_TOK

        def gen(batches):
            for b in batches:
                yield arrow_batch(b.column("id").to_numpy(), seed, max_tok)

        return ids_df.mapInArrow(gen, schema=GEN_SCHEMA)

    def _arrow(self, ids):
        return arrow_batch(np.asarray(ids, dtype=np.int64), self.run.seed, self.MAX_TOK)

    def _ingest(self, root: str, rows: int, commits: int) -> None:
        """One small file per commit, each generated from its own id range
        only (one write job, one task per range), committed in id order."""
        table = Table.create(self.spark, root)
        ids = self.spark.range(0, rows, numPartitions=commits)
        df = table.align_to_schema(with_system_columns(self._gen(ids)))
        for f in sorted(table.write_data_files(df), key=lambda f: f.path):
            table.commit("append", added=[f])
        self.table = table
        self.rows = rows
        self.ntok = dict(enumerate(self._arrow(np.arange(rows)).column("n_tok").to_pylist()))
        self.next_id = rows
        self.events: list = []  # applied batches and delete predicates, in order
        self.row_bytes = table.total_bytes() / rows
        self.target = max(table.total_bytes() // (4 * self.cores), 256 * 1024)

    def _write_floor_data(self) -> None:
        """Plain-Spark parquet copy of the base rows: the fixed input of
        the bare-Spark floors every merge and lookup is paired with."""
        self.floor_dir = os.path.join(self.run.work, "floor_data")
        ids = self.spark.range(0, self.rows, numPartitions=2 * self.cores)
        with_system_columns(self._gen(ids)).write.mode("overwrite").parquet(self.floor_dir)

    def _merge_floor(self, changes) -> float:
        """Bare-Spark copy-on-write of the floor data: drop the batch's
        keys, add its rows, write parquet. Near-constant work, so the
        ratio of a merge to it cancels how fast the host runs just then."""
        base = self.spark.read.parquet(self.floor_dir)
        t = clock()
        (base.join(F.broadcast(changes.select("doc_id")), "doc_id", "left_anti")
         .unionByName(changes, allowMissingColumns=True)
         .write.mode("overwrite").parquet(os.path.join(self.run.work, "floor_out")))
        return clock() - t

    def _lookup_floor(self, doc: str) -> float:
        """Bare-Spark point read of one doc_id from the floor data."""
        t = clock()
        self.spark.read.parquet(self.floor_dir).filter(
            F.col("doc_id") == doc).select("n_tok").collect()
        return clock() - t

    def warmup(self) -> None:
        """A merge batch, lookups and floors on the maintained table."""
        self._batch(1, traced=False, record=False)
        for key in list(self.ntok)[:3]:
            self._lookup(key, record=False, traced=False)
        self._merge_floor(self.spark.read.parquet(self.floor_dir).limit(40))

    BUILDS = 3  # setup_s takes the median build; the last table is used

    def build(self) -> None:
        """The ingest tail BUILDS times (the last table is kept), then the
        maintenance step: its timings are per-layer and not in setup_s."""
        self.rng = random.Random(self.run.seed ^ 0x5EED)
        self.samples: dict[str, list[float]] = defaultdict(list)
        rows = max(int(self.ROWS * self.run.scale), 640)
        for i in range(self.BUILDS):
            if i:
                shutil.rmtree(self.table.root, ignore_errors=True)
            t = clock()
            self._ingest(os.path.join(self.run.work, f"tbl{i}"), rows, self.COMMITS)
            self.run.builds.append(clock() - t)
        self._write_floor_data()
        self.run.traced(0)  # traced in a traced run
        self._maintain()
        self.run.traced(1)

    def _batch(self, b: int, traced: bool, record: bool = True) -> None:
        run, table, rng = self.run, self.table, self.rng
        live = sorted(self.ntok)
        n = max(len(live) // 200, 4)
        if b % self.SCATTER_EVERY == 2:  # scattered keys
            keys = rng.sample(live, n)
        elif b % 2 == 0:  # recent keys: the top of the id space
            keys = live[-n:]
        else:  # key-local: one contiguous run of ids
            lo = rng.randrange(0, len(live) - n)
            keys = live[lo:lo + n]
        new = list(range(self.next_id, self.next_id + max(n // 5, 1)))
        self.next_id += len(new)
        # (id, op, k): op 0 upserts the first k base tokens, 1 deletes,
        # 2 inserts a new key
        ops = [(key, 1 if j % 3 == 1 else 0, 4 + (key + b) % 7)
               for j, key in enumerate(keys)]
        ops += [(key, 2, 0) for key in new]
        rows = self._changes(ops)
        changes = self.spark.createDataFrame(rows).select(
            "doc_id", "tokens", "n_tok", "source",
            F.when(F.col("deleted"), F.current_timestamp())
            .cast("timestamp").alias(CDC_DELETED_AT),
        ).cache()
        changes.count()

        before = paths_of(table)
        with run.op("merge"):
            t = clock()
            res = merge.merge_into(table, changes, target_file_bytes=self.target)
            dt = clock() - t
        floor = self._merge_floor(changes)
        changes.unpersist()
        for (key, op, _), n_tok in zip(ops, rows.column("n_tok").to_pylist()):
            if op == 1:
                self.ntok.pop(key, None)
            else:
                self.ntok[key] = n_tok
        self.events.append(("batch", rows))
        if record:
            run.main.append((dt, len(ops), traced, floor))
            run.writes.append((added_bytes(table, before), len(ops) * self.row_bytes))
            run.merges.append(
                (res.candidate_files, res.touched_files, res.details.get("phase_seconds"))
            )
        self._lookups(ops, record, traced)

    def _changes(self, ops) -> pa.Table:
        """Change rows for ``ops``, built on the driver from the generator:
        upserts keep their first k base tokens, deletes are flagged."""
        rb = self._arrow([key for key, _, _ in ops])
        tokens = rb.column("tokens").to_pylist()
        return pa.table({
            "doc_id": rb.column("doc_id"),
            "tokens": pa.array(
                [t[:k] if op == 0 else t for t, (_, op, k) in zip(tokens, ops)],
                pa.list_(pa.int32()),
            ),
            "n_tok": pa.array(
                [min(k, n) if op == 0 else n
                 for n, (_, op, k) in zip(rb.column("n_tok").to_pylist(), ops)],
                pa.int32(),
            ),
            "source": rb.column("source"),
            "deleted": pa.array([op == 1 for _, op, _ in ops]),
        })

    def _lookups(self, ops, record: bool, traced: bool) -> None:
        run, table = self.run, self.table
        picks = {op: key for key, op, _ in ops}  # last key of each kind
        for key in sorted(picks.values()):
            self._lookup(key, record, traced)
        lo, hi = self.RANGE
        with run.op("range_scan"):
            t = clock()
            n = table.scan(n_tok_range=(lo, hi)).count()
            dt = clock() - t
        want = sum(1 for v in self.ntok.values() if lo <= v <= hi)
        run.check(n == want, f"cdc range scan: {n} rows, model {want}")
        if record:
            self.samples["range"].append(dt)

    def _lookup(self, key: int, record: bool, traced: bool) -> None:
        run, table = self.run, self.table
        doc = self._arrow([key]).column("doc_id")[0].as_py()
        with run.op("lookup"):
            t = clock()
            hit = table.scan(eq={"doc_id": doc})
            got = [r.n_tok for r in hit.select("n_tok").collect()]
            dt = clock() - t
        floor = self._lookup_floor(doc)
        want = [self.ntok[key]] if key in self.ntok else []
        run.check(got == want, f"cdc lookup {doc}: got {got} want {want}")
        if record:
            run.reads.append((dt, floor, traced))
        if traced:
            self.samples["lookup_frac"].append(
                len(hit.inputFiles()) / max(len(table.files()), 1))

    def _maintain(self) -> None:
        run, table, s = self.run, self.table, self.samples
        nbytes = table.total_bytes()
        before = checksum(table.scan())
        t0 = clock()
        with run.op("compact"):
            compaction.compact(table, target_file_bytes=self.target)
        t1 = clock()
        with run.op("cluster"):
            clustering.cluster(table, curve="zorder", target_file_bytes=self.target)
        t2 = clock()
        run.check(checksum(table.scan()) == before,
                  "cdc rewrite: row count or token checksum changed by compact+cluster")
        lo, hi = self.NARROW
        with run.op("scan_narrow"):
            narrow = table.scan(n_tok_range=(lo, hi))
            n = narrow.count()
        want = sum(1 for v in self.ntok.values() if lo <= v <= hi)
        run.check(n == want, f"cdc narrow scan after rewrite: {n} rows, model {want}")
        s["frac"].append(len(narrow.inputFiles()) / max(len(table.files()), 1))
        mod, rem = 53, 0
        with run.op("delete_where"):
            deletes.delete_where(table, f"n_tok % {mod} = {rem}")
        with run.op("materialize_deletes"):
            deletes.materialize_deletes(table, target_file_bytes=self.target)
        with run.op("rewrite_manifests"):
            manifests.rewrite_manifests(table)
        with run.op("expire_snapshots"):
            expire.expire_snapshots(table, keep_last=1)
        t3 = clock()
        self.ntok = {k: v for k, v in self.ntok.items() if v % mod != rem}
        self.events.append(("delete", (mod, rem)))
        s["compact_mb_per_s"].append(nbytes / MB / (t1 - t0))
        s["cluster_mb_per_s"].append(nbytes / MB / (t2 - t1))
        s["maint"].append(t3 - t0)

    def cycle(self, i: int, traced: bool) -> None:
        self._batch(i, traced)

    def _model(self):
        """Independent DataFrame model of the table: the regenerated base
        plus every applied batch, last write per key wins, deleted keys
        dropped, then each delete predicate applied to the rows whose last
        write came before it."""
        base = self._gen(self.spark.range(0, self.rows, numPartitions=self.cores)).select(
            "doc_id", "tokens", "n_tok", F.lit(False).alias("deleted"), F.lit(0).alias("ev")
        )
        batches, gone = [], F.lit(False)
        for ev, (kind, payload) in enumerate(self.events, start=1):
            if kind == "batch":
                batches.append(payload.drop(["source"]).append_column(
                    "ev", pa.array([ev] * payload.num_rows, pa.int32())))
            else:
                mod, rem = payload
                gone = gone | ((F.col("ev") < ev) & (F.col("n_tok") % mod == rem))
        changes = self.spark.createDataFrame(pa.concat_tables(batches))
        last = F.row_number().over(Window.partitionBy("doc_id").orderBy(F.desc("ev")))
        return (
            base.unionByName(changes)
            .withColumn("_last", last)
            .filter((F.col("_last") == 1) & ~F.col("deleted") & ~gone)
            .select("doc_id", "tokens", "n_tok")
        )

    def finish(self) -> None:
        run, table, s = self.run, self.table, self.samples
        table.refresh()
        t = clock()
        got = checksum(table.scan())
        full_s = clock() - t
        want = checksum(self._model())
        run.check(got == want, f"cdc final checksum {got} != model {want}")
        med = statistics.median
        lay = run.layers
        lay["rewrite.compact_mb_per_s"] = med(s["compact_mb_per_s"])
        lay["rewrite.cluster_mb_per_s"] = med(s["cluster_mb_per_s"])
        lay["scan.full_mb_per_s"] = table.total_bytes() / MB / full_s
        lay["scan.files_read_frac"] = med(s["frac"])
        lay["cdc.range_scan_s"] = med(s["range"])
        lay["cdc.maintenance_s"] = med(s["maint"])
        lay["merge.touched_over_candidates"] = (
            sum(t for _, t, _ in run.merges) / max(sum(c for c, _, _ in run.merges), 1)
        )
        lay["merge.max_s"] = max(x for x, _, _, _ in run.main)
        lay["table.space_amp"] = dir_bytes(table.root) / table.total_bytes()
        if s["lookup_frac"]:
            lay["scan.lookup_files_read_frac"] = med(s["lookup_frac"])
        if run.tracer is not None:
            paths = [table.abs_path(f.path) for f in table.files()]
            fl = self.floors(paths)
            lay.update(fl)
            traced_compact = run.tracer.secs.get("compaction.compact", 0.0)
            traced_cluster = run.tracer.secs.get("clustering.cluster", 0.0)
            n_compact = max(run.tracer.calls.get("compaction.compact", 0), 1)
            n_cluster = max(run.tracer.calls.get("clustering.cluster", 0), 1)
            lay["compaction.over_copy_floor"] = (
                traced_compact / n_compact / fl["floor.read_write_s"])
            lay["clustering.over_shuffle_floor"] = (
                traced_cluster / n_cluster / fl["floor.shuffle_s"])


# ------------------------------------------------------------------ curate

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da", "gu", "ji"]
BOILER = [
    "please subscribe to our newsletter for more updates today.",
    "all rights reserved by the original authors of this page.",
    "click here to read the full terms and conditions.",
]


def make_corpus(seed: int, n_docs: int, n_bench: int):
    """Seeded documents corpus: word lines with terminal punctuation,
    Zipf word choice, and planted near-duplicates, exact duplicates,
    boilerplate spans, PII, code/lorem pages, repetitive pages and
    benchmark contamination. Returns (train rows, benchmark rows)."""
    rng = random.Random(seed)
    vocab = sorted({
        "".join(rng.choice(_SYL) for _ in range(rng.randint(1, 3)))
        for _ in range(900)
    })
    weights = [1.0 / (i + 1) ** 0.9 for i in range(len(vocab))]

    def line(k):
        words = rng.choices(vocab, weights, k=k)
        return " ".join(words) + ("." if rng.random() < 0.8 else "")

    def page():
        return "\n".join(line(rng.randint(4, 14)) for _ in range(rng.randint(3, 8)))

    bench = [(f"b{seed}-{i:05d}", page()) for i in range(n_bench)]
    docs = []
    for i in range(n_docs):
        r = rng.random()
        if r < 0.08 and docs:
            words = rng.choice(docs)[1].split(" ")
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            body = " ".join(words)
        elif r < 0.11 and docs:
            body = rng.choice(docs)[1]
        else:
            body = page()
            extra = rng.random()
            if extra < 0.10:
                body += "\n" + rng.choice(BOILER)
            elif extra < 0.18:
                body += (
                    f"\ncontact {rng.choice(vocab)}.{i}@mail{i % 7}.com or "
                    f"+1 555 {100 + i % 900} {1000 + i % 9000} from "
                    f"10.{i % 250}.{(i * 7) % 250}.{(i * 13) % 250} today."
                )
            elif extra < 0.20:
                body += "\nlorem ipsum {code} javascript."
            elif extra < 0.24:
                body += "\n" + " ".join([rng.choice(vocab)] * 30) + "."
            elif extra < 0.27:
                body += "\n" + rng.choice(bench)[1].split("\n")[0]
        docs.append((f"d{seed}-{i:06d}", body))

    def rows(pairs):
        return [
            {"doc_id": d, "text": t, "source": f"src{int(rng.paretovariate(1.2)) % 8}",
             "n_chars": len(t)}
            for d, t in pairs
        ]

    return rows(docs), rows(bench)


def shingles(text: str, k: int) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


class Curate(Workload):
    """The text and dedup family over a seeded corpus stored as ONE
    parquet file (so fan_out_small_scan fires): minhash_lsh_pairs,
    simhash_near_dup_pairs, c4_page_filter, drop_repeated_spans,
    pii_scrub and curate_corpus, each written to parquet and read back."""

    DOCS = 600
    BUILDS = 3
    BUDGET = 60_000
    OPS = (
        "dedup.minhash_lsh_pairs",
        "dedup.simhash_near_dup_pairs",
        "text.c4_page_filter",
        "dedup.drop_repeated_spans",
        "text.pii_scrub",
        "curation.curate_corpus",
    )

    def _write_corpus(self, d: str, n_docs: int) -> tuple[str, str]:
        train, bench = make_corpus(self.run.seed, n_docs, max(n_docs // 40, 4))
        os.makedirs(d, exist_ok=True)
        paths = []
        for name, rows in (("train", train), ("bench", bench)):
            p = os.path.join(d, f"{name}.parquet")
            pq.write_table(pa.Table.from_pylist(rows), p)
            paths.append(p)
        return paths[0], paths[1]

    def _ops(self, docs, bench, handles: list):
        return [
            ("dedup.minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", num_perm=32, bands=8, shingle_k=2,
                jaccard_threshold=0.5, verify=True)),
            ("dedup.simhash_near_dup_pairs", lambda: dedup.simhash_near_dup_pairs(
                docs, "doc_id", "text", max_hamming=3, blocks=4)),
            ("text.c4_page_filter", lambda: text.c4_page_filter(docs).select(
                "doc_id", "n_kept", "clean_text", "keep")),
            ("dedup.drop_repeated_spans", lambda: dedup.drop_repeated_spans(
                docs, "doc_id", "text", n=3, min_repeats=3)),
            ("text.pii_scrub", lambda: text.pii_scrub(docs).select(
                "doc_id", "text_clean")),
            ("curation.curate_corpus", lambda: curation.curate_corpus(
                docs, bench, repetition={"max_word": 0.10, "min_words": 5},
                scrub_pii=True, materialize=True, persisted=handles,
                mixture_rates={"src0": 0.9, "src1": 0.75}, default_rate=0.6,
                token_budget=self.BUDGET, weight_col="n_chars",
                seed=self.run.seed)),
        ]

    def _pass(self, docs, bench, out: str, traced: bool) -> tuple[float, int, float]:
        """One pass of the six ops, each followed by one floor step;
        returns (op seconds, bytes written, floor seconds)."""
        run, written, total, floor, handles = self.run, 0, 0.0, 0.0, []
        for k, (name, make) in enumerate(self._ops(docs, bench, handles)):
            path = os.path.join(out, name)
            with run.op(name):
                t = clock()
                df = make()
                if traced:
                    t1 = clock()
                    df._jdf.queryExecution().executedPlan()
                    t2 = clock()
                df.write.mode("overwrite").parquet(path)
                t3 = clock()
            total += t3 - t
            if traced:
                lay = run.layers
                lay[f"{name}.build_s"] = lay.get(f"{name}.build_s", 0.0) + t1 - t
                lay[f"{name}.plan_s"] = lay.get(f"{name}.plan_s", 0.0) + t2 - t1
                lay[f"{name}.exec_s"] = lay.get(f"{name}.exec_s", 0.0) + t3 - t2
            written += dir_bytes(path)
            floor += self._floor_step(docs, k)
        for h in handles:
            h.unpersist()
        return total, written, floor

    def _floor_step(self, docs, k: int) -> float:
        """One bare-Spark job over the corpus, run after each op so the
        pass's floor samples the host's speed all through the pass. The
        three kinds cycle like the ops' own mix: a pandas UDF counting each
        doc's word 2-shingles; a word-count shuffle; a regex scrub joined
        to per-doc word counts and ranked per source. Fixed work."""

        @F.pandas_udf("long")
        def n_shingles(s: pd.Series) -> pd.Series:
            return s.map(lambda t: len(set(zip(t.split(" "), t.split(" ")[1:]))))

        docs = docs.repartition(2 * self.cores)
        words = docs.select("doc_id", F.explode(F.split("text", r"\s+")).alias("w"))
        if k % 3 == 0:
            job = docs.select("doc_id", n_shingles("text").alias("n"))
        elif k % 3 == 1:
            job = words.groupBy("w").count()
        else:
            per_doc = words.groupBy("doc_id").agg(F.countDistinct("w").alias("n"))
            rank = F.row_number().over(Window.partitionBy("source").orderBy(F.desc("n")))
            job = (docs.select("doc_id", "source", F.regexp_replace(
                       "text", r"[0-9]+|\S+@\S+", "#").alias("clean"))
                   .join(per_doc, "doc_id").withColumn("rank", rank))
        t = clock()
        job.write.mode("overwrite").parquet(os.path.join(self.run.work, "floor_out"))
        return clock() - t

    def warmup(self) -> None:
        """One pass over the built corpus."""
        docs, bench = (self.spark.read.parquet(p) for p in self.paths)
        self._pass(docs, bench, os.path.join(self.run.work, "warm"), False)

    def build(self) -> None:
        n = max(int(self.DOCS * self.run.scale), 100)
        for i in range(self.BUILDS):
            t = clock()
            tr, be = self._write_corpus(os.path.join(self.run.work, f"corpus{i}"), n)
            self.run.builds.append(clock() - t)
        self.paths = (tr, be)
        self.n_docs = n
        self.nbytes = os.path.getsize(tr)
        self.train = pq.read_table(tr).to_pylist()
        self.bench_rows = pq.read_table(be).to_pylist()
        docs = self.spark.read.parquet(tr)
        self.simhash = {
            r.doc_id: r.simhash for r in dedup.simhash(docs, "doc_id", "text").collect()
        }

    def cycle(self, i: int, traced: bool) -> None:
        run = self.run
        docs = self.spark.read.parquet(self.paths[0])
        bench = self.spark.read.parquet(self.paths[1])
        out = os.path.join(run.work, "out")
        dt, written, floor = self._pass(docs, bench, out, traced)
        run.main.append((dt, self.n_docs, traced, floor))
        run.writes.append((written, self.nbytes))
        # each read-back paired with a bare-Spark read of the corpus file
        outs, dt, floor = {}, 0.0, 0.0
        for name in self.OPS:
            t = clock()
            outs[name] = self.spark.read.parquet(os.path.join(out, name)).collect()
            t1 = clock()
            self.spark.read.parquet(self.paths[0]).collect()
            dt, floor = dt + t1 - t, floor + clock() - t1
        run.reads.append((dt, floor, traced))
        self._verify(i, outs)

    def _verify(self, i: int, outs: dict) -> None:
        run = self.run
        texts = {r["doc_id"]: r["text"] for r in self.train}
        for r in outs["dedup.minhash_lsh_pairs"]:
            a, b = shingles(texts[r.id_a], 2), shingles(texts[r.id_b], 2)
            jac = len(a & b) / max(len(a | b), 1)
            run.check(jac >= 0.5 and abs(jac - r.jaccard) < 1e-5,
                      f"curate {i}: minhash pair {r.id_a},{r.id_b} jaccard {jac}")
        run.check(len(outs["dedup.minhash_lsh_pairs"]) > 0, f"curate {i}: no minhash pairs")
        for r in outs["dedup.simhash_near_dup_pairs"]:
            ham = bin((self.simhash[r.id_a] ^ self.simhash[r.id_b]) & (2**64 - 1)).count("1")
            run.check(ham <= 3 and ham == r.hamming,
                      f"curate {i}: simhash pair {r.id_a},{r.id_b} hamming {ham}")
        term = re.compile(r'[.!?"]\s*$')
        for r in outs["text.c4_page_filter"]:
            kept = [ln for ln in texts[r.doc_id].split("\n")
                    if len(ln.split(" ")) >= 3 and term.search(ln)]
            run.check(r.n_kept == len(kept) and r.clean_text == "\n".join(kept),
                      f"curate {i}: c4 lines of {r.doc_id}")
        spans = outs["dedup.drop_repeated_spans"]
        run.check(len(spans) == self.n_docs, f"curate {i}: drop_repeated_spans lost docs")
        for r in spans:
            n_kept = len(r.clean_text.split(" ")) if r.clean_text else 0
            run.check(r.n_words - r.n_dropped == n_kept,
                      f"curate {i}: span token conservation {r.doc_id}")
        pii = [re.compile(p) for p in text.PII_PATTERNS.values()]
        for r in outs["text.pii_scrub"]:
            run.check(not any(p.search(r.text_clean) for p in pii),
                      f"curate {i}: PII left in {r.doc_id}")
        cur = outs["curation.curate_corpus"]
        bench_ids = {r["doc_id"] for r in self.bench_rows}
        bench_sh = set().union(*(shingles(r["text"], 3) for r in self.bench_rows))
        per_src: dict[str, int] = {}
        for r in cur:
            run.check(r.doc_id not in bench_ids and not (shingles(r.text, 3) & bench_sh),
                      f"curate {i}: contaminated doc {r.doc_id} survived")
            per_src[r.source] = per_src.get(r.source, 0) + r.n_chars
        run.check(bool(cur) and max(per_src.values()) <= self.BUDGET,
                  f"curate {i}: token budget exceeded {per_src}")
        run.check(len({r.text for r in cur}) == len(cur), f"curate {i}: exact dup survived")

    def finish(self) -> None:
        if self.run.tracer is not None:
            self.run.layers.update(self.floors([self.paths[0]]))


WORKLOADS = {"cdc": Cdc, "curate": Curate}
