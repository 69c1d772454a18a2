"""Snapshot job — the engine's `pg_dump` (A9/A10/A17/A18).

Extracts a database (a catalog of tables) to a timestamped, partitioned
parquet snapshot plus a JSON manifest carrying schema, row counts and an
order-insensitive content hash per table. The manifest is what the
restore drill (verify.py) checks against — the analogue of
`pg_restore --exit-on-error` proving the artifact (A21).

Layout (mirrors `s3://bucket/<env>/<service>/<ts>/`,
/root/reference/backup.sh:220):

    <root>/<env>/<service>/<snapshot_ts>/<table>/part-*.parquet
    <root>/<env>/<service>/<snapshot_ts>/_MANIFEST.json

Scale notes:
- Fingerprint = (row count, sum of per-row xxhash64), observed with
  `df.observe`: the source's on the parquet write itself, the restored
  table's on one `noop` scan. No shuffle, no data through the driver (the reference's
  "server-side execution" pattern, /root/reference/backup.sh:119-120).
  A restored table whose fingerprint differs from its source's fails
  the snapshot.
- Tables run concurrently from a driver thread pool: the per-job
  scheduling floor of one table overlaps the work of the others.
- Writes go through `df.write.parquet` so a 1000-executor cluster
  writes all partitions in parallel; `partition_cols` lets downstream
  reads prune (e.g. snapshot events by event_type).
- A12 duplicate-task guard = atomic lock file creation.
- A23 check-in = success record appended to _CHECKINS.jsonl (the
  dead-man's-switch `curl $CHECK_IN_URL` analogue).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from datapipeline_scripts_spark import catalog
from datapipeline_scripts_spark.pipeline.config import JobConfig

MANIFEST_NAME = "_MANIFEST.json"
LOCK_NAME = "_LOCK"
CHECKINS_NAME = "_CHECKINS.jsonl"

T = TypeVar("T")


def _fingerprint_metrics(columns: list[str]) -> list[Column]:
    """Row count and order-insensitive content hash: the sum of per-row
    xxhash64 over the sorted columns (cast to string for type
    stability), accumulated in decimal(38,0) — a plain long sum
    overflows (ANSI mode raises)."""
    row_hash = F.xxhash64(*[F.col(c).cast("string") for c in sorted(columns)])
    return [F.count(F.lit(1)).alias("n_rows"), F.sum(row_hash.cast("decimal(38,0)")).alias("h")]


def _as_fingerprint(metrics: dict) -> tuple[int, int]:
    # reduce the sum mod 2^64 for a compact stable value
    h = metrics["h"]
    return int(metrics["n_rows"]), int(h) % (1 << 64) if h is not None else 0


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """`(n_rows, content_hash)` of `df` in one distributed pass: the
    metrics are observed on a `noop` sink, so the job has no shuffle and
    constant driver memory."""
    obs = Observation()
    df.observe(obs, *_fingerprint_metrics(df.columns)).write.format("noop").mode("overwrite").save()
    return _as_fingerprint(obs.get)


def run_per_table(spark: SparkSession, tables: list[str], fn: Callable[[str], T]) -> list[T]:
    """`[fn(t) for t in tables]`, run from a driver thread pool of width
    min(len(tables), defaultParallelism): Spark's scheduler interleaves
    the tables' jobs, so the cluster stays busy through one table's
    job-to-job gaps (the reference serializes tables through one
    pg_dump). Results keep table order. The first failure is re-raised
    after the running tables finish and the queued ones are cancelled
    (A2 fail-fast), so nothing writes once the caller cleans up. Each
    submission carries a copy of the caller's local properties, so job
    groups and descriptions reach the pool threads."""
    width = max(1, min(len(tables), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(max_workers=width) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), t) for t in tables]
        try:
            return [f.result() for f in futures]
        finally:
            for f in futures:
                f.cancel()


class SnapshotMismatchError(RuntimeError):
    """A table read back from the snapshot differs from its source
    (rows or content hash): the artifact would not restore the source."""


class SnapshotLockError(RuntimeError):
    """A snapshot is already running for this target (A12 duplicate-task
    guard: 'A task has already been issued for database…',
    /root/reference/backup.sh:124-126)."""


def _acquire_lock(snap_root: str, run_id: str) -> str:
    os.makedirs(snap_root, exist_ok=True)
    lock_path = os.path.join(snap_root, LOCK_NAME)
    try:
        fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError as exc:
        raise SnapshotLockError(f"a snapshot task already holds {lock_path}") from exc
    with os.fdopen(fd, "w") as fh:
        fh.write(run_id)
    return lock_path


def check_in(root: str, record: dict) -> None:
    """Dead-man's-switch success report (A23). With a CHECK_IN_URL this
    would be an HTTP GET; locally it appends a dated success record the
    monitor greps."""
    with open(os.path.join(root, CHECKINS_NAME), "a") as fh:
        fh.write(json.dumps(record) + "\n")


def snapshot(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    cfg: JobConfig | None = None,
    snapshot_ts: str | None = None,
    partition_cols: dict[str, list[str]] | None = None,
    base_manifest: str | None = None,
) -> str:
    """Snapshot every configured table; return the snapshot directory.

    Flow (mirrors backup.sh): lock → extract+validate each table →
    manifest → check-in → unlock (always, via finally — the reference's
    `trap cleanup_on_exit EXIT`, /root/reference/backup.sh:20-36).

    Each table is written with its source fingerprint observed on the
    write, then read back and fingerprinted; a restored table whose rows
    or content hash differ from the source's raises
    `SnapshotMismatchError` (e.g. partition inference retyping a string
    partition column). On any failure no manifest and no check-in is
    written, and a snapshot directory this call created is removed.

    Incremental mode: pass `base_manifest` (a previous snapshot's
    manifest path) and tables whose source fingerprint and schema equal
    the base's are NOT rewritten — their manifest entry points at the
    base snapshot (`based_on`). At 100 TB this turns the nightly job from
    a full 100 TB write into hash scans + changed-table writes.

    Tables run concurrently (`run_per_table`); the manifest keeps table
    order and any table's failure fails the snapshot (A2 fail-fast)."""
    cfg = cfg or JobConfig()
    snapshot_ts = snapshot_ts or time.strftime("%Y_%m_%d_%H%M%S", time.gmtime())
    tables = [
        t
        for t in (cfg.tables or catalog.TABLES)
        if t not in set(cfg.exclude_tables)  # A9's `-N apgcc` exclusion
    ]
    snap_root = os.path.join(out_root, cfg.snapshot_prefix())
    # read the base manifest BEFORE taking the lock: a missing/corrupt
    # manifest must not leave a stale _LOCK behind (ADVICE r01)
    base: dict | None = None
    if base_manifest is not None:
        with open(base_manifest) as fh:
            base = json.load(fh)
    lock_path = _acquire_lock(snap_root, snapshot_ts)
    snap_dir = os.path.join(snap_root, snapshot_ts)
    created = not os.path.exists(snap_dir)
    try:

        def _snap_table(name: str) -> dict:
            df = catalog.load_table(spark, sf_dir, name)
            base_entry = (base or {}).get("tables", {}).get(name)
            if base_entry:
                _n, h = fingerprint(df)
                if base_entry["content_hash"] == h and base_entry["schema"] == df.schema.json():
                    # unchanged since the base snapshot: record a pointer,
                    # skip the write entirely (differential backup). If the
                    # base entry is itself a pointer (chained incrementals),
                    # keep ITS target — the pointer must always name the
                    # snapshot that physically holds the data.
                    return {**base_entry, "based_on": base_entry.get("based_on", base["snapshot_ts"])}
            target = os.path.join(snap_dir, name)
            # the source fingerprint rides on the write job itself
            obs = Observation()
            writer = df.observe(obs, *_fingerprint_metrics(df.columns)).write.mode("error")
            for col in (partition_cols or {}).get(name, []):
                writer = writer.partitionBy(col)
            writer.parquet(target)
            source_fp = _as_fingerprint(obs.get)
            restored = spark.read.parquet(target)
            restored_fp = fingerprint(restored)
            if restored_fp != source_fp:  # A18 validation: the artifact must restore the source
                raise SnapshotMismatchError(
                    f"snapshot of {name}: restored (rows, hash) {restored_fp} != source {source_fp}"
                )
            n_rows, h = restored_fp
            return {"n_rows": n_rows, "content_hash": h, "schema": restored.schema.json()}

        entries = run_per_table(spark, tables, _snap_table)
        manifest = {
            "service": cfg.clamped_service,
            "env": cfg.env_name,
            "snapshot_ts": snapshot_ts,
            "source": sf_dir,
            "tables": dict(zip(tables, entries)),
        }
        os.makedirs(snap_dir, exist_ok=True)
        with open(os.path.join(snap_dir, MANIFEST_NAME), "w") as fh:
            json.dump(manifest, fh, indent=2)
        check_in(snap_root, {"ok": True, "snapshot_ts": snapshot_ts, "n_tables": len(entries)})
        return snap_dir
    except BaseException:
        if created:  # a failed snapshot leaves no partial artifact
            shutil.rmtree(snap_dir, ignore_errors=True)
        raise
    finally:
        os.unlink(lock_path)  # A4 guaranteed cleanup


def export_metadata_only(spark: SparkSession, sf_dir: str, out_path: str, cfg: JobConfig | None = None) -> str:
    """A10 `pg_dumpall --globals-only` analogue: catalog metadata (table
    schemas + row counts) without data. Unlike the reference's v≥10
    quirk (metadata-only dumps replacing data dumps,
    /root/reference/psql-backups.sh:117-121 — a bug we fix, SURVEY §7.2),
    this is an *additional* artifact, never a substitute."""
    cfg = cfg or JobConfig()
    meta = {}
    for name in cfg.tables or catalog.TABLES:
        df = catalog.load_table(spark, sf_dir, name)
        meta[name] = {"schema": json.loads(df.schema.json()), "n_rows": df.count()}
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(meta, fh, indent=2)
    return out_path
