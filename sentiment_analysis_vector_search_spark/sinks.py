"""Sinks: cluster-scale writers for curated corpora and training shards.

Writing is where 100 TB pipelines usually fall over: a naive ``df.write``
inherits whatever partitioning the last shuffle left, producing either
thousands of tiny files per directory or a handful of skewed giants. These
writers make layout explicit:

- ``write_partitioned`` — hive-style ``partitionBy`` layout for predicate-
  prunable reads (e.g. per-language corpora). Data is repartitioned on the
  partition columns first so each output directory is written by as few
  tasks as possible (no tiny-file explosion), and ``maxRecordsPerFile``
  bounds the large ones.
- ``write_training_shards`` — fixed shard count via ``repartitionByRange``
  on a key: deterministic, evenly-sized, globally key-sorted shards, the
  layout a downstream training-data loader wants.

Both return the reloaded DataFrame so callers can assert round-trips.

Every in-place rewrite here (compaction, OPTIMIZE, MERGE, CDC apply)
installs its output through ``commit.swap_dirs``; local filesystem only
(SCALING.md rule 37).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import cut
from .commit import recover_swaps, replace_dir, staged, swap_dirs, write_json


def list_data_files(
    spark: SparkSession, path: str, suffix: str = ".parquet"
) -> list[str]:
    """Data-file listing through the Hadoop FileSystem API — the shared
    listing for index/maintenance jobs. ``os.listdir``
    only sees the local filesystem; routing through ``FileSystem.get``
    makes the same call work on any path shape Spark itself can read
    (file:// URIs today; hdfs://, s3a:// on a real cluster — the
    FileSystem implementation comes from the session's Hadoop conf, no
    engine code changes). Hidden/metadata entries (``_SUCCESS``,
    ``.crc``, ``_manifest.json``) are skipped by the same dot/underscore
    rule the parquet reader applies. Returns sorted fully-qualified URI
    strings (``file:/...`` locally) — callers comparing against
    ``input_file_name()`` output should normalize both sides."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(suffix) and not name.startswith(
            (".", "_")
        ):
            out.append(st.getPath().toString())
    return sorted(out)


def parquet_rows(spark: SparkSession, path: str) -> int:
    """Rows in the parquet directory ``path``, summed from its data files'
    footers: the files come from ``list_data_files`` and each footer is
    read by the JVM's parquet reader, so no Spark job starts and no data
    page is read, on any filesystem the session can read."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hadoop_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile
    rows = 0
    for f in list_data_files(spark, path):
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            hadoop_file.fromPath(jvm.org.apache.hadoop.fs.Path(f), conf)
        )
        try:
            rows += reader.getRecordCount()
        finally:
            reader.close()
    return rows


def spread_repartition(
    df: DataFrame, part_col: str, spreader_col: str, n: int | None = None
) -> DataFrame:
    """Shuffle for a ``partitionBy(part_col)`` write WITHOUT capping the
    write parallelism at the partition key's cardinality.

    ``repartition(F.col(part_col))`` hashes on the partition column
    alone, so at most #distinct(part_col) shuffle tasks are non-empty —
    a 64-bucket index build funnels ~1.5 TB per writer task at 100 TB
    regardless of cluster size. Hashing on (part_col, spreader_col)
    instead spreads each partition value over many tasks while
    ``partitionBy`` still lays files out under ``part_col=...``
    directories for pruning; writes now scale with executors and
    ``compact_index`` re-tidies the extra per-bucket files. ``n``
    defaults to the session's shuffle parallelism."""
    if n is None:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, F.col(part_col), F.col(spreader_col))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("lang",),
    sort_within: Sequence[str] = ("doc_id",),
    max_records_per_file: int = 1_000_000,
) -> None:
    (
        df.repartition(*[F.col(c) for c in partition_by])
        .sortWithinPartitions(*partition_by, *sort_within)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key: str = "doc_id",
) -> None:
    (
        df.repartitionByRange(n_shards, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_back(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    spark: SparkSession,
    table_name: str,
    path: str,
    bucket_by: str,
    n_buckets: int = 8,
) -> None:
    """Bucketed (hash-clustered) table: the co-located-join layout.

    Both sides of a recurring fact-fact join written with the same
    ``bucketBy(n, key)`` join WITHOUT a shuffle: each bucket file pair is
    joined directly (SortMergeJoin with no Exchange on either side). At
    100 TB this turns the dominant repeated shuffle of a daily pipeline
    into a one-time layout cost at write.
    """
    (
        df.repartition(n_buckets, F.col(bucket_by))
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_by)
        .sortBy(bucket_by)
        .format("parquet")
        .saveAsTable(table_name)
    )


def compact_dir(
    spark: SparkSession,
    path: str,
    target_files: int,
    sort_within: Sequence[str] = (),
    root: str | None = None,
) -> None:
    """Small-file compaction: rewrite a parquet directory into
    ``target_files`` files. The streaming/incremental sinks above produce
    per-batch files; at 100 TB the read side dies by open-file overhead
    long before by bytes, so periodic compaction is part of the sink
    contract. The rewrite is staged and swapped in by
    ``commit.replace_dir`` (in its own hidden sibling, or under an
    artifact's ``root``), so readers never see a half-written
    directory.
    """

    def write(tmp: str) -> None:
        df = spark.read.parquet(path).coalesce(target_files)
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        df.write.mode("overwrite").parquet(tmp)

    replace_dir(path, write, root)


def expire_partitions(
    path: str,
    partition_col: str,
    keep_from: str,
) -> list[str]:
    """Retention: drop hive-layout partitions older than ``keep_from``.

    Unlike compact_dir this takes NO SparkSession: it is pure local-
    filesystem manipulation (list + rmtree), and a session parameter would
    mislead callers into thinking the engine is involved.

    The reference prunes job outputs older than N days by directory mtime
    (cleanup_old_jobs.py:13); at lakehouse scale retention keys on the
    PARTITION VALUE, not filesystem mtime — a backfilled old partition
    written yesterday must still expire. Directories that are not
    ``partition_col=value`` entries are left untouched (the reference's
    "keep the visualizations folder" rule, generalized). Returns the
    removed partition values.
    """
    removed: list[str] = []
    prefix = f"{partition_col}="
    base = path.rstrip("/")
    if not os.path.isdir(base):
        return removed
    for item in sorted(os.listdir(base)):
        item_path = os.path.join(base, item)
        if not (os.path.isdir(item_path) and item.startswith(prefix)):
            continue
        value = item[len(prefix):]
        if value < keep_from:  # ISO dates compare lexicographically
            shutil.rmtree(item_path)
            removed.append(value)
    return removed


def write_with_manifest(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    stats_cols: Sequence[str],
) -> dict:
    """Write parquet + a per-file min/max stats manifest (data skipping).

    Partition pruning only skips whole directories; at 100 TB the next
    10-100x of scan avoidance comes from FILE-level skipping on clustered
    columns — the core mechanic of Iceberg/Delta manifests, reproduced
    here as a JSON sidecar built from the parquet footers (no data read).
    Cluster the frame on the stats column first (``repartitionByRange`` +
    ``sortWithinPartitions``) or the per-file ranges all overlap and
    nothing can be skipped.

    Supported stats domains: numbers and strings (timestamps: cast to an
    ISO date/time string column first — lexicographic order matches time
    order). Returns the manifest dict.
    """
    import pyarrow.parquet as pq

    df.write.mode("overwrite").parquet(path)
    files = {}
    base = path.rstrip("/")
    for name in sorted(os.listdir(base)):
        if not name.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(base, name))
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        col_stats: dict = {}
        for c in stats_cols:
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    lo = hi = None
                    break
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    mn, mx = mn.decode(), mx.decode()
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if lo is not None:
                col_stats[c] = [lo, hi]
        files[name] = col_stats
    manifest = {"stats_cols": list(stats_cols), "files": files}
    write_json(os.path.join(base, "_manifest.json"), manifest)
    return manifest


def manifest_prune(path: str, col: str, lo, hi) -> tuple[list[str], int]:
    """File paths whose [min, max] range overlaps [lo, hi] (plus any file
    with no stats for ``col`` — skipping is only safe when proven).
    Returns (kept_paths, total_files)."""
    import json

    base = path.rstrip("/")
    with open(os.path.join(base, "_manifest.json")) as f:
        manifest = json.load(f)
    kept = []
    for name, stats in manifest["files"].items():
        rng = stats.get(col)
        if rng is None or not (rng[1] < lo or rng[0] > hi):
            kept.append(os.path.join(base, name))
    return kept, len(manifest["files"])


def read_pruned(spark: SparkSession, path: str, col: str, lo, hi) -> DataFrame:
    """Manifest-pruned read: opens only the files that can contain rows
    with ``col`` in [lo, hi], then applies the precise filter (file
    skipping is a superset guarantee, not a filter)."""
    kept, _total = manifest_prune(path, col, lo, hi)
    if not kept:
        return (
            spark.read.parquet(path)
            .where(F.lit(False))
            .where(F.col(col).between(lo, hi))
        )
    return spark.read.parquet(*kept).where(F.col(col).between(lo, hi))


def _late_evolved_columns(base: str) -> set[str]:
    """Columns absent from at least one stored data file's footer —
    i.e. added AFTER some of the table was written (additive schema
    evolution). One footer read per leaf directory: bounded metadata."""
    import pyarrow.parquet as pq

    seen: list[set[str]] = []
    for root, dirs, files in os.walk(base):
        dirs[:] = [d for d in dirs if not d.startswith("_")]  # swap staging
        parts = sorted(f for f in files if f.endswith(".parquet"))
        if parts:
            schema = pq.read_schema(os.path.join(root, parts[0]))
            seen.append(set(schema.names))
    if not seen:
        return set()
    all_cols = set().union(*seen)
    common = set.intersection(*seen)
    return all_cols - common


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_col: str,
    allow_new_columns: bool = False,
    allow_missing_columns: bool = False,
) -> list[str]:
    """MERGE (upsert) into a hive-partitioned parquet dir: rows matching
    ``keys`` are replaced, new keys inserted, and ONLY the partitions
    present in the update batch are rewritten — the incremental-ingest
    pattern (delete-and-insert by partition) that keeps a daily merge at
    100 TB proportional to the day's data, not the table.

    The update batch's distinct partition VALUES are collected (bounded
    metadata, not data). Each affected partition is rebuilt as
    (old ANTI-JOIN update-keys) UNION update-rows and the rebuilt
    partitions are swapped in together (``commit.swap_dirs``); untouched
    partitions' files are never opened. Returns the rewritten partition
    values.

    ``allow_new_columns=True`` enables additive schema evolution: a
    column present on only one side surfaces as nulls on the other
    (unionByName allowMissingColumns). Untouched partitions keep their
    old file schema — read the evolved table through ``read_evolved``
    (mergeSchema), since a plain read samples one footer and can drop
    late-added columns.
    """
    base = path.rstrip("/")
    recover_swaps(base)
    parts = sorted(
        str(r[0])
        for r in updates.select(partition_col).distinct().collect()
    )
    # mergeSchema ALWAYS: after a prior schema-evolving merge the table
    # holds mixed per-partition schemas, and a plain read samples ONE
    # footer — if it samples an unevolved partition it would read (and
    # rewrite) the affected partitions WITHOUT the late-added column,
    # silently nulling stored values.
    old = spark.read.option("mergeSchema", "true").parquet(base)
    new_cols = [c for c in updates.columns if c not in old.columns]
    if new_cols and not allow_new_columns:
        raise ValueError(
            f"update batch adds columns {new_cols} not in the table; "
            "pass allow_new_columns=True for additive schema evolution"
        )
    # hive partition values read back TYPE-INFERRED (day=2026-01-01 →
    # DATE, id=3 → INT) while the update batch carries whatever the
    # caller computed — normalize old to the batch's types so the
    # anti-join keys and the union line up instead of silently
    # string/date-coercing (or erroring) per column.
    want_types = dict(updates.dtypes)
    for c, t in old.dtypes:
        if c in want_types and want_types[c] != t:
            old = old.withColumn(c, F.col(c).cast(want_types[c]))
    old = old.where(F.col(partition_col).isin(parts))
    # Batch-side MISSING columns are only legitimate when the column is
    # provably LATE-EVOLVED (absent from at least one stored partition's
    # footer — i.e. the table itself predates it); a batch omitting a
    # base-schema column is almost always upstream schema drift or a
    # typo, and silently writing NULL over stored values for every
    # upserted key is data loss. Hard error by default;
    # ``allow_missing_columns=True`` is the explicit opt-in.
    batch_missing = [c for c in old.columns if c not in updates.columns]
    if batch_missing and not allow_missing_columns:
        late = _late_evolved_columns(base)
        hard = [c for c in batch_missing if c not in late]
        if hard:
            raise ValueError(
                f"update batch omits base-schema columns {hard}; upserted "
                "keys would silently lose their stored values — pass "
                "allow_missing_columns=True only if that is intended"
            )
    # allowMissingColumns=True here is NOT the evolution opt-in (that is
    # the explicit new_cols check above): it lets an UNevolved update
    # batch merge into an evolved table — the batch's rows take NULL for
    # the evolved column (standard MERGE semantics for an unspecified
    # column) while retained rows keep their stored values.
    merged = old.join(
        updates.select(*keys).distinct(), list(keys), "left_anti"
    ).unionByName(updates, allowMissingColumns=True)
    (
        merged.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(staged(base))
    )
    swap_dirs(base, [f"{partition_col}={v}" for v in parts])
    return parts


def zorder_by(
    df: DataFrame, cols: Sequence[str], bits: int = 16, n_files: int | None = None
) -> DataFrame:
    """Cluster rows along a Z-order (Morton) curve over ``cols`` so that
    per-file min/max ranges stay tight on EVERY listed column at once —
    single-column range clustering gives perfect skipping on one column
    and none on the others; the space-filling curve shares the locality.
    Pair with ``write_with_manifest``/``read_pruned``: this is the
    Delta/Iceberg OPTIMIZE ZORDER mechanic.

    Each column is rank-normalized to ``bits`` levels through
    ``functions.ranks.dist_ntile`` — the distributed TeraSort-rank ntile
    (range-repartition + partition-offset rank), NOT a global
    ``ntile().over(Window.orderBy(...))`` window, which would move the
    entire frame through ONE partition per listed column — for the one
    component whose whole job is clustering 100 TB tables, exactly the
    scale-killer to avoid. Cost at scale: one
    range shuffle per listed column plus the join-back on a pinned row
    id — the same per-column pass Delta's OPTIMIZE ZORDER pays. The bit
    planes are then interleaved into one sort key. Returns the frame
    sorted by the curve; write it with ``repartitionByRange`` on ``_z``
    preserved upstream or let the caller's writer shard it.
    """
    from .functions.ranks import dist_ntile

    n_levels = 1 << bits
    # cut: pins ids — monotonically_increasing_id is nondeterministic
    # under recomputation, so cut before fanning out per-column rank
    # branches that must all agree on it.
    # MATERIALIZATION COST: the eager cut pins the
    # whole input in executor block storage for the duration of the
    # rewrite. That is acceptable for OPTIMIZE-style maintenance — Delta's
    # OPTIMIZE ZORDER also rewrites (and therefore holds) the files it
    # compacts, and the job is run per-partition/per-day slice, not over
    # the whole 100 TB table in one call. Callers with a natural unique
    # key could instead thread it through as the tie-breaker id and skip
    # the cut; a synthesized hash id is NOT a safe substitute
    # (duplicate rows would collide and collapse ranks).
    ranked = cut(df.withColumn("_zid", F.monotonically_increasing_id()), eager=True)
    for c in cols:
        r = dist_ntile(
            ranked.select(c, "_zid"), c, "_zid", n_levels, f"_r_{c}"
        ).withColumn(f"_r_{c}", F.col(f"_r_{c}") - 1)
        ranked = ranked.join(r, "_zid")
    # interleave bit planes: z = sum over bit b, col i of rank_i[b] << (b*k + i)
    k = len(cols)
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(F.col(f"_r_{c}"), b).bitwiseAND(F.lit(1)).cast("bigint")
            z = z + (bit * F.lit(1 << (b * k + i))).cast("bigint")
    withz = ranked.withColumn("_z", z)
    if n_files is not None:
        # explicit output-file count: AQE would coalesce a small range
        # shuffle into one partition and defeat the per-file skipping
        withz = withz.repartitionByRange(n_files, F.col("_z")).sortWithinPartitions(
            "_z"
        )
    else:
        withz = withz.orderBy("_z")
    return withz.drop("_z", "_zid", *[f"_r_{c}" for c in cols])


def apply_cdc(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: Sequence[str],
    partition_col: str,
    op_col: str = "_op",
) -> list[str]:
    """Apply a change-data-capture batch (upserts + deletes) to a
    hive-partitioned table: rows with ``op_col`` in (``I``, ``U``) are
    upserted, ``D`` rows are deleted. Like ``merge_upsert``, only the
    partitions present in the change batch are rewritten. When a key
    appears multiple times in one batch the LAST change wins by the
    batch's ``_seq`` column if present, else arbitrarily-deterministic
    by the op ordering D < I < U (emit _seq from your log position for
    real CDC streams). A partition whose rows are all deleted is dropped
    in the same swap. Returns the rewritten partition values.
    """
    base = path.rstrip("/")
    recover_swaps(base)
    order = F.col("_seq") if "_seq" in changes.columns else F.col(op_col)
    w = Window.partitionBy(*keys).orderBy(F.desc(order))
    last = (
        changes.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk", *(["_seq"] if "_seq" in changes.columns else []))
    )
    parts = sorted(
        str(r[0]) for r in last.select(partition_col).distinct().collect()
    )
    # mergeSchema for the same reason as merge_upsert: a previously
    # evolved table must not lose its late-added column to a single
    # sampled footer.
    old = spark.read.option("mergeSchema", "true").parquet(base)
    want_types = dict(last.dtypes)
    for c, t in old.dtypes:
        if c in want_types and want_types[c] != t:
            old = old.withColumn(c, F.col(c).cast(want_types[c]))
    old = old.where(F.col(partition_col).isin(parts))
    survivors = old.join(last.select(*keys).distinct(), list(keys), "left_anti")
    upserts = last.where(F.col(op_col) != "D").drop(op_col)
    # null-backfill an unevolved change batch against an evolved table;
    # CDC batches cannot introduce columns (no evolution flag here).
    cdc_new = [c for c in upserts.columns if c not in old.columns]
    if cdc_new:
        raise ValueError(
            f"CDC batch adds columns {cdc_new} not in the table; evolve "
            "the table first via merge_upsert(allow_new_columns=True)"
        )
    merged = survivors.unionByName(upserts, allowMissingColumns=True)
    (
        merged.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(staged(base))
    )
    names = [f"{partition_col}={v}" for v in parts]
    kept = [n for n in names if os.path.isdir(staged(base, n))]
    swap_dirs(base, kept, [n for n in names if n not in kept])
    return parts


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key: str = "doc_id",
    compression: str | None = None,
) -> None:
    """Training shards as JSON-lines text (the common LLM-training feed
    format): same deterministic range-sharded layout as
    ``write_training_shards``, one JSON object per line.
    ``compression='gzip'`` emits the .jsonl.gz feed most trainers pull;
    documents-shaped shards round-trip through
    ``sources.read_documents(fmt='json')`` either way (pytest)."""
    w = (
        df.repartitionByRange(n_shards, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
    )
    if compression:
        w = w.option("compression", compression)
    w.json(path)


# ---------------------------------------------------------------------------
# Snapshot commits + time travel (Iceberg/Delta snapshot-isolation mechanic)
# ---------------------------------------------------------------------------


def _versions_dir(root: str) -> str:
    return os.path.join(root.rstrip("/"), "_versions")


def snapshot_versions(root: str) -> list[int]:
    """Committed snapshot versions, ascending (uncommitted data dirs —
    crash leftovers — are invisible: only a manifest makes data live)."""
    vdir = _versions_dir(root)
    if not os.path.isdir(vdir):
        return []
    return sorted(
        int(n[1:-5])
        for n in os.listdir(vdir)
        if n.startswith("v") and n.endswith(".json")
    )


def commit_snapshot(
    df: DataFrame,
    root: str,
    mode: str = "append",
) -> int:
    """Commit ``df`` as a new table snapshot; returns the version number.

    The Iceberg mechanic reproduced on a filesystem: data files are
    immutable and write-once under ``data/commit-N/``; what makes them
    part of the table is the version manifest (``_versions/vN.json``)
    listing every file in the snapshot, finalized with an atomic rename.
    ``append`` reuses the previous snapshot's files by reference (an O(1)
    metadata commit — no data rewrite, the property that makes commits
    cheap at 100 TB); ``overwrite`` starts the file list fresh. Readers
    resolve a manifest, never a directory listing, so concurrent commits
    and crashed half-written data dirs are invisible (snapshot isolation)
    and historical versions stay readable until expired.
    """
    import json

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    base = root.rstrip("/")
    vdir = _versions_dir(base)
    os.makedirs(vdir, exist_ok=True)
    versions = snapshot_versions(base)
    new_v = (versions[-1] + 1) if versions else 1

    commit_dir = os.path.join(base, "data", f"commit-{new_v:05d}")
    df.write.mode("error").parquet(commit_dir)
    new_files = [
        os.path.join("data", f"commit-{new_v:05d}", n)
        for n in sorted(os.listdir(commit_dir))
        if n.endswith(".parquet")
    ]

    prev_files: list[str] = []
    if mode == "append" and versions:
        with open(os.path.join(vdir, f"v{versions[-1]:05d}.json")) as f:
            prev_files = json.load(f)["files"]

    manifest = {"version": new_v, "mode": mode, "files": prev_files + new_files}
    write_json(os.path.join(vdir, f"v{new_v:05d}.json"), manifest)  # the commit
    return new_v


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
) -> DataFrame:
    """Time travel: read the table as of ``version`` (default: latest)."""
    import json

    base = root.rstrip("/")
    versions = snapshot_versions(base)
    if not versions:
        raise FileNotFoundError(f"no snapshots committed under {base}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    with open(os.path.join(_versions_dir(base), f"v{v:05d}.json")) as f:
        files = json.load(f)["files"]
    return spark.read.parquet(*(os.path.join(base, p) for p in files))


def expire_snapshots(root: str, keep_last: int) -> list[str]:
    """Vacuum: drop all but the newest ``keep_last`` versions and delete
    data files no surviving snapshot references. Returns deleted paths.
    Time travel contracts shrink; the latest snapshot is never touched."""
    import json

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    base = root.rstrip("/")
    versions = snapshot_versions(base)
    kept, dropped = versions[-keep_last:], versions[:-keep_last]
    referenced: set[str] = set()
    for v in kept:
        with open(os.path.join(_versions_dir(base), f"v{v:05d}.json")) as f:
            referenced.update(json.load(f)["files"])
    deleted: list[str] = []
    for v in dropped:
        os.remove(os.path.join(_versions_dir(base), f"v{v:05d}.json"))
        deleted.append(f"_versions/v{v:05d}.json")
    data_root = os.path.join(base, "data")
    if os.path.isdir(data_root):
        for commit in sorted(os.listdir(data_root)):
            cdir = os.path.join(data_root, commit)
            rel_files = {
                os.path.join("data", commit, n)
                for n in os.listdir(cdir)
                if n.endswith(".parquet")
            }
            if rel_files and not (rel_files & referenced):
                shutil.rmtree(cdir)
                deleted.extend(sorted(rel_files))
    return deleted


def vacuum_orphans(root: str, grace_seconds: float = 3600.0) -> list[str]:
    """Remove data files NO existing snapshot references — the debris of
    crashed commits, where ``commit_snapshot`` wrote ``data/commit-N/``
    but died before the manifest's atomic rename, so version N never
    existed. ``expire_snapshots`` cannot see these (it walks versions);
    without this verb they accumulate forever. The Delta VACUUM /
    Iceberg remove-orphan-files mechanic.

    A commit directory younger than ``grace_seconds`` is protected: a
    concurrent writer may be between its data write and its manifest
    rename, and deleting under it would corrupt a commit about to
    succeed — the same retention-guard reasoning Delta applies. Returns
    deleted paths (table-relative). The latest and all retained
    snapshots are untouchable by construction (their files are
    referenced).
    """
    import json
    import time

    base = root.rstrip("/")
    referenced: set[str] = set()
    for v in snapshot_versions(base):
        with open(os.path.join(_versions_dir(base), f"v{v:05d}.json")) as f:
            referenced.update(json.load(f)["files"])
    deleted: list[str] = []
    data_root = os.path.join(base, "data")
    if not os.path.isdir(data_root):
        return deleted
    now = time.time()
    for commit in sorted(os.listdir(data_root)):
        cdir = os.path.join(data_root, commit)
        if not os.path.isdir(cdir):
            continue
        rel_files = {
            os.path.join("data", commit, n)
            for n in os.listdir(cdir)
            if n.endswith(".parquet")
        }
        if rel_files & referenced:
            continue  # live commit dir
        if now - os.path.getmtime(cdir) < grace_seconds:
            continue  # possibly in-flight commit
        shutil.rmtree(cdir)
        deleted.extend(sorted(rel_files) or [os.path.join("data", commit)])
    return deleted


def analyze_table(df: DataFrame) -> DataFrame:
    """ANALYZE TABLE in one scan: per-column row/null counts, min/max and
    an approximate distinct count (HLL++), returned as one tidy row per
    column. These are the statistics a cost-based optimizer, a skew
    detector (ndv << rows on a join key), and the stats-manifest skipping
    layer all feed from; on a metastore deployment this is the job behind
    `ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS`.

    One multi-aggregate pass — every per-column aggregate partial-combines
    map-side, so the cost is a single scan at any table size. min/max are
    stringified so heterogeneous column types stack into one frame
    (complex types report counts only).
    """
    from pyspark.sql import types as T

    simple = tuple(
        f.name
        for f in df.schema.fields
        if not isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    )
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in df.columns:
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        if c in simple:
            aggs.append(F.min(F.col(c)).cast("string").alias(f"_min_{c}"))
            aggs.append(F.max(F.col(c)).cast("string").alias(f"_max_{c}"))
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"_ndv_{c}"))
    row = df.agg(*aggs)
    spark = df.sparkSession
    cols = []
    for c in df.columns:
        cols.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_rows").alias("n_rows"),
                (F.col("_rows") - F.col(f"_nn_{c}")).alias("n_nulls"),
                (
                    F.col(f"_min_{c}") if c in simple else F.lit(None).cast("string")
                ).alias("min_value"),
                (
                    F.col(f"_max_{c}") if c in simple else F.lit(None).cast("string")
                ).alias("max_value"),
                (
                    F.col(f"_ndv_{c}") if c in simple else F.lit(None).cast("bigint")
                ).alias("approx_ndv"),
            )
        )
    return (
        row.select(F.explode(F.array(*cols)).alias("s"))
        .select("s.*")
        .orderBy("column")
    )


def optimize_table(
    spark: SparkSession,
    path: str,
    zorder_cols: Sequence[str],
    n_files: int = 8,
    bits: int = 8,
) -> dict:
    """The OPTIMIZE maintenance verb: compact + Z-order-cluster +
    rebuild the file-skipping manifest, in one pass swapped in like
    ``compact_dir`` — the operational entrypoint a table owner
    actually schedules (Delta's ``OPTIMIZE ... ZORDER BY`` / Iceberg's
    rewrite_data_files). Streaming/incremental sinks produce per-batch
    files whose stats ranges all overlap; after this pass the directory
    holds ``n_files`` curve-clustered files whose manifest prunes on
    EVERY listed column. Run per partition/day slice at scale (the
    zorder_by materialization note applies). Returns the manifest.
    """

    def write(tmp: str) -> dict:
        z = zorder_by(spark.read.parquet(path), list(zorder_cols), bits=bits, n_files=n_files)
        return write_with_manifest(spark, z, tmp, list(zorder_cols))

    return replace_dir(path, write)


def compact_index(
    spark: SparkSession, index_dir: str, kind: str, target_files: int = 1
) -> int:
    """Compact a persisted ANN index's data files (maintenance verb).

    The streamed ingest loops (`stream_{ivf,pq,ivfpq}_ingest`) append
    one batch-stamped file per micro-batch to the index's ingest table,
    the last directory of ``similarity.INDEX_LAYOUT[kind]`` (per cell
    for IVF, per word bucket for the BM25 text index) —
    exactly-once by design, but after N batches a query opens N files
    per probed cell. This rewrites each leaf directory down to
    ``target_files`` via ``compact_dir``, swapped in under the index
    directory, so the index's one recovery (query opens, refreshes,
    appends, the next compaction) finishes a compaction a crash left
    open. Safe w.r.t. the
    ingest protocol: replayed batches are skipped by recorded batch id
    BEFORE any file naming matters, and new batch files never collide
    with compacted ``part-*`` names. Returns files removed (net).
    """
    from .operators.similarity import INDEX_LAYOUT

    if kind == "text":
        sub = "postings"
    elif kind in INDEX_LAYOUT:
        sub = INDEX_LAYOUT[kind].dirs[-1]
    else:
        raise ValueError(
            f"unknown index kind {kind!r}; expected {', '.join(INDEX_LAYOUT)}, or text"
        )
    root = os.path.join(index_dir, sub)
    recover_swaps(index_dir)  # a compaction or refresh a crash left open

    def _count(d: str) -> int:
        n = 0
        for _, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if not x.startswith("_")]  # hidden
            n += len([f for f in files if f.endswith(".parquet")])
        return n

    before = _count(root)
    leaves = [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if os.path.isdir(os.path.join(root, d)) and "=" in d
    ] or [root]
    for leaf in leaves:
        if len([f for f in os.listdir(leaf) if f.endswith(".parquet")]) > target_files:
            compact_dir(spark, leaf, target_files, root=index_dir)
    return before - _count(root)


def manifest_prune_multi(
    path: str, preds: dict[str, tuple]
) -> tuple[list[str], int]:
    """Multi-predicate file skipping: a file survives only if EVERY
    predicate's [lo, hi] overlaps its stats range — the conjunctive
    intersection of per-column prunes. This is where Z-order clustering
    pays: after `optimize_table(cols=[a, b])` a two-predicate query
    skips files neither single-column layout could."""
    kept_sets = []
    total = 0
    for col, (lo, hi) in preds.items():
        kept, total = manifest_prune(path, col, lo, hi)
        kept_sets.append(set(kept))
    kept_all = sorted(set.intersection(*kept_sets)) if kept_sets else []
    return kept_all, total


def read_pruned_multi(
    spark: SparkSession, path: str, preds: dict[str, tuple]
) -> DataFrame:
    """Manifest-pruned read under a conjunction of range predicates;
    opens only files every predicate can touch, then applies the exact
    filters."""
    kept, _total = manifest_prune_multi(path, preds)
    df = (
        spark.read.parquet(*kept)
        if kept
        else spark.read.parquet(path).where(F.lit(False))
    )
    for col, (lo, hi) in preds.items():
        df = df.where(F.col(col).between(lo, hi))
    return df


def snapshot_diff(
    spark: SparkSession, root: str, v_from: int, v_to: int
) -> dict:
    """Time-travel diff between two committed snapshots.

    File level is pure manifest arithmetic (O(metadata), no data read):
    which files joined/left the table. Row level reads both snapshots and
    returns added/removed row FRAMES via exceptAll (multiset semantics —
    duplicate-count changes surface correctly). The debugging verb behind
    "what changed between yesterday's and today's table".
    """
    import json

    base = root.rstrip("/")
    vdir = _versions_dir(base)

    def _files(v: int) -> list[str]:
        with open(os.path.join(vdir, f"v{v:05d}.json")) as f:
            return json.load(f)["files"]

    from_files, to_files = set(_files(v_from)), set(_files(v_to))
    df_from = read_snapshot(spark, base, v_from)
    df_to = read_snapshot(spark, base, v_to)
    return {
        "files_added": sorted(to_files - from_files),
        "files_removed": sorted(from_files - to_files),
        "rows_added": df_to.exceptAll(df_from),
        "rows_removed": df_from.exceptAll(df_to),
    }


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet dir whose files carry EVOLVED schemas (columns
    added over time by merge_upsert(allow_new_columns=True) or appended
    batches): per-file schemas are unioned and missing columns surface
    as nulls. Plain ``spark.read.parquet`` samples ONE footer and would
    silently drop late-added columns."""
    return spark.read.option("mergeSchema", "true").parquet(path)
