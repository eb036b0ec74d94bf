"""The Spark extraction job.

Plan (SURVEY.md §3.1 lifecycle, Spark-first):

    scan (parquet/Iceberg, column-pruned to 4 cols, null-text filter
    pushed to the source)
      -> salt bucket = pmod(xxhash64(conv_id, turn_idx), P)
         (splits hot conversations across all buckets — the fix for the
         reference's MAX_PROCESSES=1 / blocking pool.apply serialization,
         LOCDB-V3/app.py:29, LOCDB-V3/fileProcessor.py:111; safe because
         extraction is strictly per-turn)
      -> repartition(P, bucket)            [the job's ONE shuffle]
      -> mapInPandas(extract_batch)        [Arrow channel, vectorized]
      -> write partitioned by bucket, dynamic partition overwrite
      -> commit wave of buckets + counters to the checkpoint table

Resume: a restarted run reads the committed bucket set and processes
only the rest; replayed buckets overwrite their own output dirs, so a
kill at any point converges to the uninterrupted result (idempotent,
exactly-once at wave granularity).

Read side: ``read_extracted`` restores the contract ordering
(conv_id, turn_idx) — the natsort invariant of
``LOCDB-V3/fileProcessor.py:121-211`` (W3).

Scale notes (designed for 10^12 turns / 1000 executors, tested on
local[32]): the only wide exchange is the salted repartition; AQE is on
for runtime coalescing/skew splits; Arrow batches are capped so a batch
of large HTML payloads stays within executor memory; per-turn work is
embarrassingly parallel, so throughput scales with cores as long as
P >> cores (default P = 4 x shuffle parallelism).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from extractor import checkpoint, tables
from extractor.core.batch import extract_batch
from extractor.schema import EXTRACTED_BUCKET_SCHEMA, TRANSCRIPTS_SCHEMA

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # payloads are KB-sized documents; 2048 rows/batch (~7 MB) keeps
    # the Arrow channel full without ballooning Python-worker memory
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.parquet.compression.codec": "zstd",
}

DRIVER_MEM_CAP = 16 * 2**30
# cgroup v2 limit, then the v1 one; "max" (v2) or an absurdly large
# number (v1) means unlimited and leaves physical RAM as the base
CGROUP_MEM_LIMITS = ("/sys/fs/cgroup/memory.max",
                     "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def driver_memory() -> str:
    """``spark.driver.memory`` for ``get_spark``: ``$SPARK_DRIVER_MEM``
    verbatim when set, else half of the host's memory (physical RAM, or
    the cgroup limit when that is smaller), capped at 16g.

    In local mode the Python workers that run the Arrow/mapInPandas
    stage live outside the JVM heap, so the heap must leave them (and
    the OS) room: a heap ceiling above what the host has lets G1 grow
    until the kernel OOM-kills the JVM."""
    explicit = os.environ.get("SPARK_DRIVER_MEM")
    if explicit:
        return explicit
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in CGROUP_MEM_LIMITS:
        try:
            with open(path) as f:
                total = min(total, int(f.read()))
        except (OSError, ValueError):
            pass
    half = total // 2
    if half >= DRIVER_MEM_CAP:
        return "16g"
    return "{}m".format(half // 2**20)


def get_spark(app_name: str = "extractor", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or "local[{}]".format(cpus)
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in DEFAULT_CONF.items():
        b = b.config(k, v)
    ncores = 32 if master == "local[*]" else int(master.strip("local[]") or 32)
    b = b.config("spark.sql.shuffle.partitions",
                 str(shuffle_partitions or max(2 * ncores, 32)))
    b = b.config("spark.driver.memory", driver_memory())
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _extract_map(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        if len(pdf) == 0:
            continue
        out = extract_batch(pdf)
        out["bucket"] = pdf["bucket"].to_numpy()
        yield out


def read_transcripts(spark: SparkSession, path: str,
                     ignore_corrupt: bool = False) -> DataFrame:
    """Transcripts source with format dispatch (the reference accepted
    a dozen upload formats via an extension allowlist,
    LOCDB-V3/app.py:27 / fileProcessor.py:50-52 — here the analog is
    parquet/Iceberg plus line-JSON and CSV ingest, all normalized to
    TRANSCRIPTS_SCHEMA so every downstream plan is format-agnostic).

    ``ignore_corrupt`` (opt-in) sets the per-read ``ignoreCorruptFiles``
    option: at 100 TB a handful of truncated/garbage blobs is routine,
    and one of them must not kill a 1000-executor job (the reference's
    analog failure: one bad upload aborts the whole RQ batch). Kept
    OFF by default — silently skipping data is the wrong default for
    correctness — and when on, the shortfall stays visible through the
    checkpoint's turns_in counters and ``found_notfound`` (both are
    computed from the same tolerant read).

    Scale note: line-JSON splits per line and scales like parquet
    (minus columnar pruning); CSV uses multiLine for embedded
    newlines in payloads, which makes each FILE the split unit — fine
    for ingest convenience, wrong for 100 TB (land big data as
    parquet/Iceberg, or shard CSV into many files).

    Dispatch order: directories are inspected by their CONTAINED data
    files, never by the directory's own name — a parquet output dir
    that happens to be named ``exports.json`` must not be routed to
    the JSON reader (it would yield all-null rows under the enforced
    schema instead of an error)."""
    if path.startswith("gen:"):
        # synthesized input: "gen:n_turns=10000000,seed=7,..." options
        # pass through to the transcript_gen Python DataSource — the
        # zero-storage 10^12-turn path (soaks/benches generate on the
        # executors instead of landing parquet first)
        from extractor.gen_source import register as _register_gen
        _register_gen(spark)
        reader = spark.read.format("transcript_gen")
        spec = path[len("gen:"):]
        allowed = {"n_turns", "seed", "numpartitions", "hot_frac",
                   "num_convs", "chunk_turns"}
        for kv in filter(None, spec.split(",")):
            k, _, v = kv.partition("=")
            k = k.strip()
            # unknown keys must be loud: the source defaults silently
            # (a typo'd n_turn would yield a 2000-turn dataset that
            # "passes" a 10M-turn soak in seconds). Comparison is
            # case-INsensitive, matching DataSource option semantics
            # (the reader resolves numPartitions/numpartitions alike)
            if k.lower() not in allowed:
                raise ValueError(
                    "gen: URI option {!r} unknown (allowed: {})".format(
                        k, sorted(allowed)))
            reader = reader.option(k, v.strip())
        return reader.load()
    fmt = _dir_data_format(path) if os.path.isdir(path) else None
    low = path.lower()
    reader = spark.read.schema(TRANSCRIPTS_SCHEMA)
    if ignore_corrupt:
        reader = reader.option("ignoreCorruptFiles", "true")
    if fmt == "json" or (fmt is None and
                         low.endswith((".jsonl", ".json", ".ndjson"))):
        return reader.json(path)
    if fmt == "csv" or (fmt is None and low.endswith(".csv")):
        return (reader
                .option("header", "true")
                .option("multiLine", "true")
                .option("escape", '"')
                .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
                .csv(path))
    if fmt == "orc" or (fmt is None and low.endswith(".orc")):
        # ORC is columnar like parquet (predicate pushdown + column
        # pruning both apply); same enforced schema
        return reader.orc(path)
    if fmt == "parquet" or low.endswith(".parquet"):
        return reader.parquet(path)
    return tables.read_table(spark, path)


def _dir_data_format(path: str) -> str:
    """Format of the first data file found under a directory (walks
    into partition subdirs like ``bucket=0/``; skips ``_SUCCESS`` and
    dotfiles). Empty/unknown contents default to parquet, the native
    table layout."""
    for dirpath, dirs, files in os.walk(path):
        dirs.sort()
        for fn in sorted(files):
            if fn.startswith(("_", ".")):
                continue
            ext = os.path.splitext(fn)[1].lower()
            if ext in (".jsonl", ".json", ".ndjson"):
                return "json"
            if ext == ".csv":
                return "csv"
            if ext == ".orc":
                return "orc"
            if ext == ".parquet":
                return "parquet"
    return "parquet"


def suggest_buckets(spark: SparkSession, path: str,
                    target_bucket_bytes: int = 3 * 2**30,
                    min_buckets: int = 16,
                    max_buckets: int = 2**20) -> int:
    """Derive ``n_buckets`` from the input's on-disk size (the README
    knob 'buckets ~ total_bytes / 2-4 GB' made executable): a bucket
    should be re-extractable in minutes after a failure and keep the
    partitioned writer's per-directory output sane. Uses Catalyst's
    own relation statistics (``sizeInBytes`` — the same number the
    planner uses for broadcast decisions), so Iceberg/parquet/JSON all
    report through one code path with no filesystem walk of our own.

    Rounded UP to a power of two: resume hard-fails on a changed
    bucket count (manifest header pin), and pow2 counts make the
    suggestion stable under small input growth — a 10% bigger backfill
    suggests the SAME count, so re-runs over refreshed snapshots keep
    their committed buckets valid.

    ``max_buckets`` (pow2) bounds the answer: catalog relations with
    no file statistics report Catalyst's defaultSizeInBytes
    (Long.MaxValue) and would otherwise suggest a ~2^32-bucket
    manifest; 2^20 one-target-size buckets already cover ~3 PB —
    beyond that, partition the BACKFILL, not the bucket space."""
    df = read_transcripts(spark, path)
    size = int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())
    need = max(min_buckets, -(-size // target_bucket_bytes))
    return min(1 << (need - 1).bit_length(), max_buckets)


def plan_extract(df: DataFrame, n_buckets: int,
                 bucket_in: list[int] | None = None) -> DataFrame:
    """The declarative extraction plan over a transcripts DataFrame
    (no checkpointing — used by entry/bench and composed by run).

    ``bucket_in`` restricts the plan to a subset of salt buckets ON THE
    INPUT SIDE — the predicate is evaluated on the scan before the
    shuffle and the Arrow stage, so a wave/resume run pays Python
    extraction only for the buckets it will commit. (A filter on the
    OUTPUT bucket column would sit above mapInPandas, which is opaque
    to Catalyst: every wave would re-extract everything and discard
    most of it.)"""
    src = (
        df.select("conv_id", "turn_idx", "text", "tool")  # prune early
        # pushed to scan; null key columns are invalid rows (the input
        # contract declares them non-null — the parquet reader does
        # not enforce declared nullability, and a null key would NPE
        # the partitioned writer), surfaced via found_notfound (J8)
        .where(F.col("text").isNotNull()
               & F.col("conv_id").isNotNull()
               & F.col("turn_idx").isNotNull())
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_buckets))
            .cast("int"),
        )
    )
    if bucket_in is not None:
        src = src.where(F.col("bucket").isin([int(b) for b in bucket_in]))
    return (
        src.repartition(n_buckets, "bucket")
        .mapInPandas(_extract_map, EXTRACTED_BUCKET_SCHEMA)
    )


def run_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    run_id: str | None = None,
    n_buckets: int = 64,
    wave_buckets: int | None = None,
    max_waves: int | None = None,
    ignore_corrupt: bool = False,
) -> dict:
    """Checkpointed, resumable extraction run.

    ``wave_buckets`` buckets are written + committed per wave (default:
    everything in one wave). ``max_waves`` lets tests simulate a kill
    between commits. ``ignore_corrupt`` tolerates corrupt input files
    (see read_transcripts). Returns counters.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    ckpt_dir = os.path.join(output_path, "_checkpoint")
    # single-writer guard: a concurrent live driver on the same output
    # fails fast (ConcurrentRunError); a dead holder's lock is stolen
    checkpoint.acquire_writer_lock(ckpt_dir, run_id)
    try:
        return _run_extract_locked(spark, input_path, output_path, run_id,
                                   ckpt_dir, n_buckets, wave_buckets,
                                   max_waves, ignore_corrupt)
    finally:
        checkpoint.release_writer_lock(ckpt_dir)


# Pinned in the checkpoint manifest header: committed bucket ids are
# only meaningful under this exact salt expression. Bump if the salting
# in plan_extract ever changes — old manifests must then hard-fail.
SALT_FN = "pmod(xxhash64(conv_id,turn_idx),n_buckets)"


def _bucket_input_counts(transcripts: DataFrame, n_buckets: int,
                         wave: list[int]) -> dict[int, int]:
    """Input-side row count per salt bucket — the ``turns_in`` the
    checkpoint schema promises (rows read per bucket BEFORE the
    null-payload drop, so in/out diverge on dirty input).

    Scale note: a separate columnar aggregate over only the two key
    columns (conv_id, turn_idx) — parquet scan reads nothing else, so
    at 100 TB this costs a metadata-light pass, not a payload re-read.
    Called ONCE per run for all todo buckets (the bucket isin filter
    cannot prune the scan, so a per-wave call would re-scan the keys
    once per wave for no new information)."""
    rows = (
        transcripts
        .select("conv_id", "turn_idx")
        .where(F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull())
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_buckets))
            .cast("int"))
        .where(F.col("bucket").isin([int(b) for b in wave]))
        .groupBy("bucket").count()
        .collect()
    )
    return {int(r["bucket"]): int(r["count"]) for r in rows}


def _run_extract_locked(spark, input_path, output_path, run_id, ckpt_dir,
                        n_buckets, wave_buckets, max_waves,
                        ignore_corrupt=False) -> dict:
    # pin the run config before anything is committed; a resume whose
    # config contradicts the manifest header hard-fails here instead of
    # silently skipping buckets whose membership changed
    checkpoint.ensure_header(ckpt_dir, {
        "n_buckets": int(n_buckets),
        "salt": SALT_FN,
        "schema_version": checkpoint.SCHEMA_VERSION,
        "input_path": input_path,
    })
    committed = set(checkpoint.read_committed(ckpt_dir))
    todo = [b for b in range(n_buckets) if b not in committed]
    stats = {"run_id": run_id, "n_buckets": n_buckets,
             "skipped_committed": len(committed),
             "waves": 0, "turns_out": 0, "refs_out": 0,
             "turns_observed": 0}
    if not todo:
        return stats

    transcripts = read_transcripts(spark, input_path,
                                   ignore_corrupt=ignore_corrupt)

    wave_buckets = wave_buckets or len(todo)
    waves = [todo[i:i + wave_buckets] for i in range(0, len(todo), wave_buckets)]
    if max_waves is not None:
        waves = waves[:max_waves]

    data_dir = os.path.join(output_path, "data")
    # one key-column pre-pass counts turns_in for every todo bucket;
    # each wave slices its own entries out of the dict
    in_counts_all = _bucket_input_counts(transcripts, n_buckets, todo)
    for wave in waves:
        # bucket restriction applied below the Arrow stage: each wave
        # extracts only its own buckets (see plan_extract docstring)
        part = plan_extract(transcripts, n_buckets, bucket_in=wave)
        # free in-flight row count via df.observe (CollectMetrics rides
        # the already-executing write — no extra job, no extra scan; it
        # sits ABOVE the scan filter so pushdown is untouched). This is
        # a write-integrity diagnostic ONLY: rows the plan produced vs
        # rows durably counted back from disk below. The MANIFEST
        # counters deliberately stay scan-derived — observed metrics
        # are accumulator-based and can overcount under task retries /
        # speculation, which lineage must never do.
        obs = Observation()  # auto-named: unique per wave and per rerun
        part = part.observe(obs, F.count(F.lit(1)).alias("rows"))
        # local (no-shuffle) sort inside each bucket partition: the
        # point lookup's (conv_id, turn_idx) predicate can then prune
        # parquet ROW GROUPS via min/max stats — unsorted buckets make
        # every row group span the whole key range — and sorted
        # conv_ids compress better under zstd. ``bucket`` leads the
        # sort keys: the partitioned writer REQUIRES ordering by the
        # partition column and would otherwise insert its own
        # (unstable) sort on bucket alone, destroying the key order
        part = part.sortWithinPartitions("bucket", "conv_id", "turn_idx")
        tables.write_partitioned(part, data_dir, "bucket")
        # per-bucket counters from the durably written wave (columnar
        # count over n_refs only — cheap), then atomic commit
        counters = (
            # schema-specified: an all-empty wave writes only _SUCCESS
            # and schema inference would fail on the bare directory
            spark.read.schema(EXTRACTED_BUCKET_SCHEMA).parquet(data_dir)
            .where(F.col("bucket").isin(wave))
            .groupBy("bucket")
            .agg(F.count("*").alias("turns_out"),
                 F.sum("n_refs").alias("refs_out"))
            .collect()
        )
        by_bucket = {r["bucket"]: r for r in counters}
        recs = []
        for b in wave:
            r = by_bucket.get(b)
            recs.append({
                "partition_id": int(b),
                "turns_in": in_counts_all.get(int(b), 0),
                "turns_out": int(r["turns_out"]) if r else 0,
                "refs_out": int(r["refs_out"]) if r else 0,
            })
        checkpoint.commit(ckpt_dir, run_id, recs)
        stats["waves"] += 1
        stats["turns_out"] += sum(rec["turns_out"] for rec in recs)
        stats["refs_out"] += sum(rec["refs_out"] for rec in recs)
        stats["turns_observed"] += int(obs.get["rows"])
    return stats


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    """Output table under the contract ordering (W3: stable
    (conv_id, turn_idx))."""
    return (
        spark.read.schema(EXTRACTED_BUCKET_SCHEMA)
        .parquet(os.path.join(output_path, "data"))
        .drop("bucket")
        .orderBy("conv_id", "turn_idx")
    )


def read_extracted_asof(spark: SparkSession, output_path: str,
                        snapshot_id: int) -> DataFrame:
    """Time-travel read (Iceberg ``VERSION AS OF`` analog over the
    manifest's snapshot log, checkpoint.snapshots): the output table
    restricted to the partition set committed as of snapshot
    ``snapshot_id``, under the same W3 contract ordering as
    ``read_extracted``.

    The bucket restriction is an .isin on the PARTITION column, so it
    constant-folds into PartitionFilters — uncommitted-as-of buckets'
    directories are never listed, the same pruning mechanism as the
    point lookup (one directory at 10^12 turns).

    Honesty note on semantics: this reconstructs the committed
    partition SET as of the snapshot; partition contents are the
    CURRENT files. Under the job's determinism contract (replays are
    byte-identical — pinned by the resume/SIGKILL suites) that equals
    the historical bytes; real Iceberg would keep per-snapshot data
    files and also survive kernel-version changes between runs, which
    this single-writer manifest deliberately does not attempt."""
    snaps = checkpoint.snapshots(os.path.join(output_path, "_checkpoint"))
    if not 0 <= snapshot_id < len(snaps):
        raise ValueError(
            "snapshot_id {} out of range: manifest has {} snapshots"
            .format(snapshot_id, len(snaps)))
    committed = snaps[snapshot_id]["committed_cumulative"]
    return (
        spark.read.schema(EXTRACTED_BUCKET_SCHEMA)
        .parquet(os.path.join(output_path, "data"))
        .where(F.col("bucket").isin([int(b) for b in committed]))
        .drop("bucket")
        .orderBy("conv_id", "turn_idx")
    )


def _ordered_export_frame(spark: SparkSession, output_path: str,
                          n_files: int) -> DataFrame:
    """Shared publish recipe: the extracted table range-partitioned on
    (conv_id, turn_idx) into n_files and sorted within each partition,
    so EVERY export format inherits the same guarantee — concatenating
    output files in name order IS the W3 contract ordering."""
    return (spark.read.schema(EXTRACTED_BUCKET_SCHEMA)
            .parquet(os.path.join(output_path, "data"))
            .drop("bucket")
            .repartitionByRange(n_files, "conv_id", "turn_idx")
            .sortWithinPartitions("conv_id", "turn_idx"))


def export_merged(spark: SparkSession, output_path: str, dest: str,
                  n_files: int = 8, fmt: str = "parquet") -> None:
    """Publish step (S13 analog: the reference zips results for
    download, LOCDB-V3/app.py zip route / SURVEY.md §2.1): rewrite the
    bucket-partitioned extraction output as a merged, globally ordered
    file set for downstream consumers.

    ``repartitionByRange(conv_id, turn_idx)`` makes file k hold keys
    strictly below file k+1's (one range-exchange; the sampling pass is
    metadata-cheap), and ``sortWithinPartitions`` orders inside each
    file — so a reader concatenating files in name order sees the W3
    contract ordering without any further sort. n_files sizes output
    files for the consumer (at 100 TB, pick n_files so each lands near
    the blob-store sweet spot, e.g. ~1 GB)."""
    (_ordered_export_frame(spark, output_path, n_files)
     .write.mode("overwrite").format(fmt).save(dest))


def export_jsonl_shards(spark: SparkSession, output_path: str, dest: str,
                        n_files: int = 8,
                        max_records_per_file: int = 50_000,
                        compression: str = "gzip") -> None:
    """Publish step for training pipelines: the extracted table as
    compressed JSONL shards (one json object per line: conv_id,
    turn_idx, clean_text, refs) — the interchange format tokenizer /
    packing stages consume. Same global-order recipe as export_merged
    (range partition + in-partition sort, so name-ordered shard concat
    preserves the W3 contract ordering); ``max_records_per_file``
    additionally rolls oversized ranges into sequential sub-files, the
    knob that keeps shards near a tokenizer-friendly size at 100 TB
    without retuning n_files per corpus. to_json is JVM-side
    (whole-stage codegen), not a Python UDF."""
    (_ordered_export_frame(spark, output_path, n_files)
       .select(F.to_json(F.struct("conv_id", "turn_idx", "clean_text",
                                  "refs")).alias("value"))
       .write.mode("overwrite")
       .option("maxRecordsPerFile", max_records_per_file)
       .option("compression", compression)
       .text(dest))


def compact_buckets(spark: SparkSession, output_path: str) -> int:
    """Maintenance compaction for the bucket-partitioned sink (the
    small-files problem: every wave and every task appends a file, so
    a long-lived output accretes per-bucket file counts that make
    readers pay open + footer costs per file — at 100 TB the classic
    table-maintenance job, cf. Iceberg rewrite_data_files).

    Rewrites each bucket directory into ONE key-sorted file while
    preserving both sink contracts: the bucket partition layout
    (pruned point lookups) and the within-file (conv_id, turn_idx)
    order (row-group pruning + zstd locality; ``bucket`` leads the
    sort keys for the same writer reason as in run_extract).

    Stage-and-swap, not in-place: Spark cannot overwrite a path it is
    reading, and a mid-compaction crash must not lose committed data —
    so write to ``data.compact``, then two atomic renames. (On an
    object store, swap via the catalog instead — rename is a copy
    there; this path targets HDFS/local semantics.) Checkpoint
    manifest/counters are untouched: content is bit-identical, only
    file boundaries change. Returns the number of buckets rewritten."""
    data_dir = os.path.join(output_path, "data")
    stage_dir = data_dir + ".compact"
    old_dir = data_dir + ".old"
    # crash recovery: a kill between the two swap renames leaves the
    # live dir missing while data.old holds the pre-compaction table —
    # roll back before doing anything else, so a rerun (or any reader
    # calling this first) always sees a complete table
    if not os.path.isdir(data_dir) and os.path.isdir(old_dir):
        os.rename(old_dir, data_dir)
    df = spark.read.schema(EXTRACTED_BUCKET_SCHEMA).parquet(data_dir)
    n_buckets = df.select("bucket").distinct().count()
    part = (df.repartition(max(n_buckets, 1), "bucket")
            .sortWithinPartitions("bucket", "conv_id", "turn_idx"))
    part.write.mode("overwrite").partitionBy("bucket").parquet(stage_dir)
    import shutil
    shutil.rmtree(old_dir, ignore_errors=True)
    os.rename(data_dir, old_dir)
    os.rename(stage_dir, data_dir)
    shutil.rmtree(old_dir)
    return n_buckets


def zorder_expr(col_x: str, col_y: str, bits: int = 16):
    """Morton/Z-value of two non-negative int columns: bit-interleave
    the low ``bits`` bits of each (x -> even positions, y -> odd) into
    one BIGINT sort key. Pure JVM lambda arithmetic (aggregate over a
    bit-index sequence — whole-stage codegen, no Python), so it costs
    one projection at write time.

    Z-ordering is the standard multi-dimensional layout trick (cf.
    Delta/Iceberg OPTIMIZE ZORDER): a table range-partitioned and
    sorted by z gets parquet min/max row-group pruning on BOTH
    dimensions, where a linear sort prunes only its leading column —
    the difference between reading ~sqrt-fraction and reading 100% of
    a 100 TB table for a predicate on the second dimension. Callers
    pre-scale values into [0, 2**bits)."""
    t = ("shiftleft(shiftright(cast({x} as bigint), {i}) & 1, {e})"
         " + shiftleft(shiftright(cast({y} as bigint), {i}) & 1, {o})")
    terms = " + ".join(
        t.format(x=col_x, y=col_y, i=i, e=2 * i, o=2 * i + 1)
        for i in range(bits))
    return F.expr(terms)


def zorder_write(df: DataFrame, dest: str, col_x: str, col_y: str,
                 n_files: int = 32, bits: int = 16) -> None:
    """Write ``df`` as parquet laid out along the Z-curve of
    (col_x, col_y): range-partition on the z-value (balanced files via
    sampled range bounds), sort within partitions, drop the key before
    writing. The projection after the sort does not disturb the
    in-partition row order, so row-group min/max stats stay tight on
    both dimensions. Layout-only: content is whatever ``df`` holds."""
    z = zorder_expr(col_x, col_y, bits).alias("_z")
    (df.select("*", z)
       .repartitionByRange(n_files, "_z")
       .sortWithinPartitions("_z")
       .drop("_z")
       .write.mode("overwrite").parquet(dest))


def hilbert_expr(col_x: str, col_y: str, bits: int = 16):
    """Hilbert-curve index of two non-negative int columns (the
    classic xy2d quadrant-rotation algorithm, cf. Hamilton &
    Rau-Chaplin's compact Hilbert indices and Wikipedia's reference
    loop) as ONE JVM fold: aggregate() over the bit levels
    high->low carrying named_struct(x, y, d) — per level, add
    s^2 * ((3*rx) XOR ry) to d and rotate/flip the quadrant frame.
    Pure integer CASE/shift arithmetic inside whole-stage codegen,
    no Python, one projection at write time — same cost class as
    zorder_expr.

    Why offer both: the Hilbert curve is CONTINUOUS (every
    consecutive pair of d values is a Manhattan-distance-1 grid
    step, pinned in tests), so it has no Z-curve "seams" — clusters
    split across Z's 2^k-aligned jumps stay contiguous on Hilbert,
    which is why Delta Lake's liquid clustering moved from Z-order
    to Hilbert. Same caller contract: values pre-scaled to
    [0, 2**bits)."""
    n = 1 << bits
    rx = "((a.x >> i) & 1)"
    ry = "((a.y >> i) & 1)"
    e = """
    aggregate(
      sequence({bm1}, 0, -1),
      named_struct('x', cast({x} as bigint), 'y', cast({y} as bigint),
                   'd', cast(0 as bigint)),
      (a, i) -> named_struct(
        'x', CASE WHEN {ry} = 0
                  THEN CASE WHEN {rx} = 1 THEN {n} - 1 - a.y ELSE a.y END
                  ELSE a.x END,
        'y', CASE WHEN {ry} = 0
                  THEN CASE WHEN {rx} = 1 THEN {n} - 1 - a.x ELSE a.x END
                  ELSE a.y END,
        'd', a.d + shiftleft(1L, 2 * i) *
             (CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0
                   WHEN {rx} = 0 AND {ry} = 1 THEN 1
                   WHEN {rx} = 1 AND {ry} = 1 THEN 2
                   ELSE 3 END)),
      a -> a.d)
    """.format(bm1=bits - 1, x=col_x, y=col_y, n=n, rx=rx, ry=ry)
    return F.expr(e)


def hilbert_write(df: DataFrame, dest: str, col_x: str, col_y: str,
                  n_files: int = 32, bits: int = 16) -> None:
    """Write ``df`` as parquet laid out along the Hilbert curve of
    (col_x, col_y) — range-partition on the index (sampled range
    bounds), sort within partitions, drop the key. Same contract and
    pruning rationale as zorder_write; Hilbert's unbroken locality
    additionally keeps range scans on either dimension inside fewer
    row groups at the 2^k seam boundaries."""
    h = hilbert_expr(col_x, col_y, bits).alias("_h")
    (df.select("*", h)
       .repartitionByRange(n_files, "_h")
       .sortWithinPartitions("_h")
       .drop("_h")
       .write.mode("overwrite").parquet(dest))


def hive_partition_write(df: DataFrame, dest: str, key: str) -> None:
    """Hive-style directory layout on a low-cardinality key
    (``dest/key=value/part-*.parquet``) — the third 100-TB read-path
    recipe next to Z-order (two-dimension row-group pruning) and the
    salted bucket lookup (point reads): a fact table laid out this way
    gets whole directories skipped at PLANNING time for static
    predicates and at RUNTIME for join-derived ones (see
    ``dpp_join_counts``). Layout-only: content is whatever ``df``
    holds. Reference analog: per-type output directories,
    LOCDB-V3/fileProcessor.py (type-dispatched result folders)."""
    df.write.partitionBy(key).mode("overwrite").parquet(dest)


def dpp_join_counts(spark: SparkSession, fact_dir: str, dim: DataFrame,
                    dim_filter, key: str = "event_type") -> DataFrame:
    """Per-key counts of a key-partitioned fact restricted by a
    FILTERED dimension — the dynamic-partition-pruning join.

    The fact predicate (which keys survive the dim filter) is not
    known until runtime, so no static pushdown can skip fact
    directories. With ``spark.sql.optimizer.dynamicPartitionPruning``
    (on by default) Catalyst REUSES the dim's broadcast exchange as a
    subquery inside the fact scan's PartitionFilters
    (``dynamicpruning#N`` / SubqueryAdaptiveBroadcast in the plan), so
    the scan lists and reads ONLY the matching ``key=value``
    directories. At 10^12 rows this is the difference between reading
    the full fact table and reading the joined fraction — for a
    100 TB events table with a 1%-selective dim filter, a 99% I/O cut
    before the first task runs. The pruning is asserted in
    tests/test_layout.py (plan gate + equality vs the unpartitioned
    computation)."""
    fact = spark.read.parquet(fact_dir)
    return (fact.join(dim.where(dim_filter), key)
                .groupBy(key)
                .agg(F.count("*").alias("n")))


def found_notfound(requested: DataFrame, produced: DataFrame) -> DataFrame:
    """J8/S7: requested keys not present in the produced table
    (the reference's NotFound list, LOCDB-V3/fileProcessor.py:167-186)."""
    return requested.select("conv_id", "turn_idx").join(
        produced.select("conv_id", "turn_idx"),
        on=["conv_id", "turn_idx"],
        how="left_anti",
    )


def conversation_report(extracted: DataFrame) -> DataFrame:
    """S7 merged-view analog: per-conversation rollup."""
    return (
        extracted.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("n_refs").alias("n_refs"),
            F.sum(F.length("clean_text")).alias("clean_chars"),
        )
    )


def segment_lookup(spark: SparkSession, output_path: str,
                   conv_id: str, turn_idx: int,
                   box: list[int]) -> DataFrame:
    """Interactive region re-query (the reference's POST
    /segmentReference -> processSegment any-overlap lookup,
    LOCDB-V3/imgProcessing.py:987-1083 / SURVEY.md §3.3): a
    predicate-pushdown point query on the extracted table, then an
    array-level filter keeping refs whose bbox overlaps the user box
    (IoU > 0, i.e. any overlap). JVM-side throughout.

    Partition pruning: the salt bucket is COMPUTABLE from the key —
    the manifest header pins the exact salt fn (``SALT_FN``) — so when
    the header is present the read carries a ``bucket = k`` predicate
    on the partition column. xxhash64 over literals is constant-folded
    by Catalyst, so the scan touches exactly one ``bucket=`` directory
    (PartitionFilters in the formatted plan; at 10^12 turns the
    un-pruned form touches every partition's footer for one row —
    reference analog is an O(1) per-file lookup,
    LOCDB-V3/imgProcessing.py:987-1083)."""
    x1, y1, x2, y2 = box
    df = spark.read.parquet(os.path.join(output_path, "data"))
    header = checkpoint.read_header(os.path.join(output_path, "_checkpoint"))
    if header and header.get("salt") == SALT_FN:
        # same expression, same literal types (string, int32) as
        # plan_extract's salting — xxhash64 is type-sensitive
        df = df.where(F.col("bucket") == F.pmod(
            F.xxhash64(F.lit(conv_id),
                       F.lit(int(turn_idx)).cast("int")),
            F.lit(int(header["n_buckets"]))).cast("int"))
    return (
        df
        .where((F.col("conv_id") == conv_id) & (F.col("turn_idx") == turn_idx))
        .select(
            "conv_id", "turn_idx",
            F.filter(
                "refs",
                lambda r: (r["bbox"].isNotNull())
                & (r["bbox"][0] < F.lit(x2)) & (F.lit(x1) < r["bbox"][2])
                & (r["bbox"][1] < F.lit(y2)) & (F.lit(y1) < r["bbox"][3]),
            ).alias("refs"),
        )
    )


def make_pyfiles_zip(dest: str = "extractor.zip") -> str:
    """Package the pure-Python core for spark-submit --py-files
    (executors import one zip; SURVEY.md §4 packaging note)."""
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(os.path.join(root, "extractor")):
            if "__pycache__" in dirpath:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    return dest


def main(argv: list[str] | None = None) -> None:
    """spark-submit entry:

        spark-submit --py-files extractor.zip extractor/job.py \\
            --input <transcripts parquet/table> --output <dir> \\
            [--run-id X] [--buckets 4096] [--wave-buckets 256]

    (the zip supplies the ``extractor`` package to driver and
    executors; exercised end-to-end by
    tests/test_job_spark.py::test_spark_submit_pyfiles_end_to_end)

    On a cluster the SparkSession comes from spark-submit's conf; the
    local fallback (get_spark) only applies when run as plain python.
    """
    import argparse

    p = argparse.ArgumentParser(description="transcript extraction job")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--buckets", type=int, default=None,
                   help="salt-bucket count; default: suggest_buckets "
                        "from the input's Catalyst size stats")
    p.add_argument("--wave-buckets", type=int, default=None)
    args = p.parse_args(argv)

    spark = SparkSession.builder.appName("extractor").getOrCreate()
    for k, v in DEFAULT_CONF.items():
        if k.startswith("spark.sql."):
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # static conf on a running session
    n_buckets = args.buckets or suggest_buckets(spark, args.input)
    stats = run_extract(spark, args.input, args.output, run_id=args.run_id,
                        n_buckets=n_buckets, wave_buckets=args.wave_buckets)
    print(stats)


if __name__ == "__main__":
    main()
