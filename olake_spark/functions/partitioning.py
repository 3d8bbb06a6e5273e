"""Exact range partitioning without repartitionByRange's sampling pass.

``repartitionByRange`` runs RangePartitioner sampling, which re-evaluates
the child plan — ruinous when the child contains a pandas UDF over a
full-width scan (the round-1 zorder anomaly: the workaround persist()
built full token-array rows at low parallelism). Instead we:

1. compute boundaries ourselves from a *narrow* sample (caller's job),
2. assign each row a bin id with a codegen'd binary-search CASE tree,
3. route bin -> exact Spark partition by mapping every bin id to a salt
   value whose murmur3 hash lands on that partition, then a plain
   ``repartition(n, salt)``.

Step 3 relies only on Spark's documented hash partitioning:
``pmod(murmur3_hash(cols, seed=42), n)`` (org.apache.spark.sql.functions
.hash docs; Murmur3 x86_32 is public — Appleby, public domain). The salt
search is driver-side over small ints and is O(n log n) expected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BIN = "_bin"
_SALT = "_bin_salt"


def murmur3_int32(value: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of one int32, matching Spark's ``F.hash(int_col)``.

    Returns a signed 32-bit int (Spark's HashExpression output).
    """
    mask = 0xFFFFFFFF
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (value & mask) * c1 & mask
    k = ((k << 15) | (k >> 17)) & mask
    k = k * c2 & mask
    h = (seed ^ k) & mask
    h = ((h << 13) | (h >> 19)) & mask
    h = (h * 5 + 0xE6546B64) & mask
    h ^= 4  # total byte length
    h ^= h >> 16
    h = h * 0x85EBCA6B & mask
    h ^= h >> 13
    h = h * 0xC2B2AE35 & mask
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def salts_for_bins(n_bins: int) -> list[int]:
    """salts[b] hashes onto partition b under ``repartition(n_bins, col)``."""
    salts: list[int | None] = [None] * n_bins
    found, cand = 0, 0
    while found < n_bins:
        b = murmur3_int32(cand) % n_bins  # python % == pmod for positive n
        if salts[b] is None:
            salts[b] = cand
            found += 1
        cand += 1
    return salts  # type: ignore[return-value]


def _sql_literal(v: int | str) -> str:
    """SQL text for one boundary: integers verbatim, strings single-quoted
    with ``\\`` and ``'`` backslash-escaped (the parser's default string
    unescaping reverses exactly these two). Every other character — tab,
    control bytes, non-ASCII — passes through as itself."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(int(v))


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def sql_in_list(col_name: str, values) -> Column:
    """``col_name IN (values...)`` as one parsed SQL expression (Spark
    plans a long IN list as a hash-set probe). NULL values are skipped —
    they never match — and an empty list is the constant false."""
    lits = [_sql_literal(v) for v in values if v is not None]
    if not lits:
        return F.lit(False)
    return F.expr(f"{_sql_ident(col_name)} IN ({', '.join(lits)})")


def _bin_tree_sql(key_name: str, vals: list) -> str:
    """The nested-when binary-search tree of ``bin_expr`` as ONE generated
    SQL string: building it from Column objects costs ~2 py4j round trips
    per boundary (~0.25 s per ~100, paid by every rewrite that routes by
    range); parsing the equivalent CASE text is milliseconds."""
    col = _sql_ident(key_name)
    lits = [_sql_literal(v) for v in vals]

    def tree(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (
            f"(CASE WHEN {col} < {lits[mid]} "
            f"THEN {tree(lo, mid)} ELSE {tree(mid + 1, hi)} END)"
        )

    return tree(0, len(vals))


def bin_expr(key_name: str, boundaries: list) -> Column:
    """Bin id in [0, len(boundaries)] = count of boundaries <= the value of
    column ``key_name``, as a NESTED-when binary-search tree: O(log
    #boundaries) codegen'd JVM comparisons per row, no Python stage.

    Why not simpler forms (measured, 300k rows x 95 string boundaries):
    a literal-array ``F.filter`` runs the lambda INTERPRETED per element
    (~50 s); a flat 95-branch CASE chain evaluates conditions
    sequentially (~8 s); an Arrow-batched ``np.searchsorted`` is fast
    (~1.5 s) but splits the stage around a Python exchange. The nested
    tree (~1 s) stays in whole-stage codegen — each row walks one
    root-to-leaf path of ~7 comparisons. Works for int curve keys and
    lexicographic string keys alike (Spark string comparison is binary
    UTF-8 order, which is code-point order — the order of the driver-side
    Python sort of the boundaries).
    """
    return F.expr(_bin_tree_sql(key_name, boundaries))


def _free_name(df: DataFrame, base: str) -> str:
    """``base`` prefixed with underscores until no column of ``df`` has
    that name (case-insensitively, as the analyzer resolves names)."""
    taken = {c.lower() for c in df.columns}
    name = base
    while name.lower() in taken:
        name = "_" + name
    return name


KEY_SEP = "\t"  # sorts below printable ASCII: concat order == tuple order
_SAMPLE_MAX = 100_000
_SAMPLE_FILES = 8


def sample_file_boundaries(
    table, files, cols: list[str], n_bins: int, extra_frames=None
) -> list[str] | None:
    """Composite-string range boundaries for ``n_bins`` from a
    driver-side pyarrow sample of a few evenly-spaced data files'
    key columns (column-pruned — token arrays untouched). The point:
    feed ``exact_range_partition`` so the output exchange never pays
    repartitionByRange's sampling pass, which re-evaluates the child
    (for a rewrite: a second full scan of the input files).

    ``extra_frames``: additional pandas key frames to pool (e.g. a
    change-batch sample whose keys lie outside the files' ranges).
    Returns None when nothing is sampleable — caller falls back."""
    if n_bins <= 1:
        return []
    import pandas as pd

    picks = list(files)
    if len(picks) > _SAMPLE_FILES:
        step = len(picks) / _SAMPLE_FILES
        picks = [picks[int(i * step)] for i in range(_SAMPLE_FILES)]
    frames = []
    if picks:
        try:
            import pyarrow.parquet as pq

            frames = [
                pq.read_table(table.abs_path(f.path), columns=cols).to_pandas()
                for f in picks
            ]
        except Exception:  # noqa: BLE001 — non-local fs / old schema
            frames = []
    frames += list(extra_frames or [])
    if not frames:
        return None
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
    if len(pdf) > _SAMPLE_MAX:
        pdf = pdf.sample(n=_SAMPLE_MAX, random_state=42)
    if pdf.empty:
        return None
    key = pdf[cols[0]].astype(str)
    for c in cols[1:]:
        key = key + KEY_SEP + pdf[c].astype(str)
    keys = sorted(key)
    return sorted(
        {keys[min(len(keys) - 1, (i * len(keys)) // n_bins)] for i in range(1, n_bins)}
    )


def string_key_cols(schema, cols: list[str]) -> bool:
    """True iff every ``cols`` exists in ``schema`` as a string — the
    precondition for ``sample_file_boundaries``' lexicographic
    boundaries (and the matching runtime key) to be valid."""
    names = set(schema.names)
    return set(cols) <= names and all(
        schema[c].dataType.simpleString() == "string" for c in cols
    )


def composite_key_expr(cols: list[str]) -> Column:
    """The runtime key matching ``sample_file_boundaries``' rendering —
    NULLs become the literal 'None' exactly as pandas ``astype(str)``
    renders them (concat_ws would silently drop them)."""
    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit(KEY_SEP))
        parts.append(F.coalesce(F.col(c).cast("string"), F.lit("None")))
    return F.concat(*parts)


def exact_range_partition(
    df: DataFrame, key: Column, boundaries: list[int | str], sort_cols: list[str]
) -> DataFrame:
    """Partition ``df`` into len(boundaries)+1 range bins of ``key`` and
    sort each partition — single shuffle, child evaluated exactly once
    (unlike repartitionByRange). Output drops the helper columns.
    """
    n_bins = len(boundaries) + 1
    if n_bins == 1:
        return df.repartition(1).sortWithinPartitions(*sort_cols)
    salts = salts_for_bins(n_bins)
    # helper columns take names the input does not use, so an input
    # column called _bin/_bin_key/_bin_salt passes through untouched. The
    # key is staged once (the bin tree compares it at every level) and
    # only the salt crosses the shuffle.
    kn, bn, sn = (_free_name(df, c) for c in ("_bin_key", BIN, _SALT))
    return (
        df.withColumn(kn, key)
        .withColumn(bn, bin_expr(kn, boundaries))
        .withColumn(sn, F.element_at(F.lit(salts), F.col(bn) + 1))
        .drop(kn, bn)
        .repartition(n_bins, F.col(sn))
        .sortWithinPartitions(*sort_cols)
        .drop(sn)
    )
