"""Pipeline-layer tests: snapshot → restore-verify round trip (the
reference's restore drill, SURVEY §5.1), retry/poll/lock/config utils."""

from __future__ import annotations

import json
import os
import sys
import threading
import uuid
import zipfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import datapipeline_scripts_spark.pipeline.snapshot as snap_mod
from datapipeline_scripts_spark import catalog
from datapipeline_scripts_spark.pipeline.config import JobConfig, clamp_identifier, scratch_password
from datapipeline_scripts_spark.pipeline.retrying import PollTimeout, RetriesExhausted, poll, retry
from datapipeline_scripts_spark.pipeline.snapshot import (
    CHECKINS_NAME,
    LOCK_NAME,
    MANIFEST_NAME,
    SnapshotLockError,
    SnapshotMismatchError,
    _acquire_lock,
    fingerprint,
    snapshot,
)
from datapipeline_scripts_spark.pipeline.verify import RestoreVerifyError, verify_or_raise, verify_snapshot

TABLES = ("region", "nation", "supplier")


def _cfg() -> JobConfig:
    return JobConfig(service_name="unit-test-service", env_name="test", tables=TABLES)


@pytest.fixture(scope="module")
def snap_dir(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("snap"))
    path = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_01_000000")
    return path


def test_snapshot_layout_and_manifest(snap_dir):
    assert snap_dir.endswith("test/unit-test-service/2026_01_01_000000")
    with open(os.path.join(snap_dir, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    assert set(manifest["tables"]) == set(TABLES)
    assert manifest["tables"]["region"]["n_rows"] == 5
    assert manifest["tables"]["nation"]["n_rows"] == 25
    # check-in recorded at the service root (dead-man's-switch analogue)
    service_root = os.path.dirname(snap_dir)
    with open(os.path.join(service_root, CHECKINS_NAME)) as fh:
        record = json.loads(fh.readlines()[-1])
    assert record["ok"] is True


def test_verify_round_trip_ok(spark, snap_dir, tmp_path):
    result = verify_or_raise(spark, snap_dir, str(tmp_path / "scratch"))
    assert sorted(result.tables_ok) == sorted(TABLES)


def test_verify_include_exclude(spark, snap_dir, tmp_path):
    result = verify_snapshot(spark, snap_dir, str(tmp_path / "s2"), include=["region", "nation"], exclude=("nation",))
    assert result.tables_ok == ["region"]


def test_verify_drop_line_pattern(spark, snap_dir, tmp_path):
    # A20 made real: filter rows during restore, counts reconcile
    result = verify_snapshot(
        spark,
        snap_dir,
        str(tmp_path / "s3"),
        include=["region"],
        drop_line_pattern={"region": ("r_name", "^A")},  # AFRICA, AMERICA, ASIA
    )
    assert result.ok


def test_verify_drop_line_pattern_keeps_nulls(spark, tmp_path):
    # ADVICE r01: NULLs in the filter column must be KEPT, not silently
    # excluded (a bare ~rlike drops them and desyncs the count check)
    from datapipeline_scripts_spark.pipeline.snapshot import snapshot
    from datapipeline_scripts_spark.pipeline.config import JobConfig
    import datapipeline_scripts_spark.pipeline.snapshot as snap_mod
    import datapipeline_scripts_spark.catalog as catalog

    df = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "beta"), (4, None), (5, "axe")],
        "id INT, name STRING",
    )
    src_dir = str(tmp_path / "src")
    df.write.parquet(src_dir + "/weird")
    orig = catalog.load_table
    catalog.load_table = lambda sp, d, n: sp.read.parquet(src_dir + "/weird")
    snap_mod.catalog.load_table = catalog.load_table
    try:
        sdir = snapshot(spark, src_dir, str(tmp_path / "out"), JobConfig(tables=["weird"]))
    finally:
        catalog.load_table = orig
        snap_mod.catalog.load_table = orig
    result = verify_snapshot(
        spark,
        sdir,
        str(tmp_path / "scratch"),
        drop_line_pattern={"weird": ("name", "^a")},  # drops alpha, axe; keeps NULLs
    )
    assert result.ok, result.issues


def test_verify_detects_tampering(spark, snap_dir, tmp_path):
    with open(os.path.join(snap_dir, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    manifest["tables"]["region"]["content_hash"] += 1
    tampered = tmp_path / "tampered"
    tampered.mkdir()
    os.symlink(os.path.join(snap_dir, "region"), tampered / "region")
    with open(tampered / MANIFEST_NAME, "w") as fh:
        json.dump({**manifest, "tables": {"region": manifest["tables"]["region"]}}, fh)
    with pytest.raises(RestoreVerifyError, match="content hash"):
        verify_or_raise(spark, str(tampered), str(tmp_path / "s4"))


def test_incremental_snapshot_skips_unchanged(spark, sf_dir, tmp_path):
    """Differential backup: a second snapshot against the first one's
    manifest writes NO table data (nothing changed) but its manifest
    still verifies end-to-end via the base pointers."""
    root = str(tmp_path / "incr")
    first = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_01_000000")
    second = snapshot(
        spark,
        sf_dir,
        root,
        cfg=_cfg(),
        snapshot_ts="2026_01_02_000000",
        base_manifest=os.path.join(first, MANIFEST_NAME),
    )
    # no data directories in the incremental snapshot — only the manifest
    assert sorted(os.listdir(second)) == [MANIFEST_NAME]
    with open(os.path.join(second, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    assert all(t["based_on"] == "2026_01_01_000000" for t in manifest["tables"].values())
    # the restore drill resolves the pointers and still verifies content
    result = verify_or_raise(spark, second, str(tmp_path / "incr_scratch"))
    assert sorted(result.tables_ok) == sorted(TABLES)


def test_chained_incremental_snapshots_point_at_data(spark, sf_dir, tmp_path):
    """Three snapshots, the last two incremental: the third's pointers
    must target the FIRST snapshot (which holds the data), not the
    manifest-only second — and the restore drill must still pass."""
    root = str(tmp_path / "chain")
    s1 = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_01_000000")
    s2 = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_02_000000",
                  base_manifest=os.path.join(s1, MANIFEST_NAME))
    s3 = snapshot(spark, sf_dir, root, cfg=_cfg(), snapshot_ts="2026_01_03_000000",
                  base_manifest=os.path.join(s2, MANIFEST_NAME))
    with open(os.path.join(s3, MANIFEST_NAME)) as fh:
        manifest = json.load(fh)
    assert all(t["based_on"] == "2026_01_01_000000" for t in manifest["tables"].values())
    assert verify_or_raise(spark, s3, str(tmp_path / "chain_scratch")).ok


def test_partitioned_snapshot_layout(spark, sf_dir, tmp_path):
    root = str(tmp_path / "partsnap")
    cfg = JobConfig(service_name="partsvc", env_name="test", tables=("orders",))
    snap = snapshot(
        spark, sf_dir, root, cfg=cfg, snapshot_ts="2026_01_01_000000",
        partition_cols={"orders": ["o_orderstatus"]},
    )
    orders_dir = os.path.join(snap, "orders")
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(orders_dir))
    # partition column round-trips through the hive layout; verify passes
    assert verify_or_raise(spark, snap, str(tmp_path / "ps_scratch")).ok


def test_snapshot_lock_guard(tmp_path):
    lock = _acquire_lock(str(tmp_path), "run1")
    with pytest.raises(SnapshotLockError):
        _acquire_lock(str(tmp_path), "run2")
    os.unlink(lock)
    os.unlink(_acquire_lock(str(tmp_path), "run3"))


def test_retry_backoff_schedule():
    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 4:
            raise ValueError("boom")
        return "ok"

    assert retry(flaky, attempts=9, base_delay_s=2.0, sleep=sleeps.append) == "ok"
    assert sleeps == [2.0, 4.0, 8.0]  # exponential ×2, reference defaults


def test_retry_exhaustion():
    with pytest.raises(RetriesExhausted):
        retry(lambda: 1 / 0, attempts=3, base_delay_s=0.0, sleep=lambda _: None)


def test_poll_until_success():
    states = iter(["CREATED", "IN_PROGRESS", "IN_PROGRESS", "SUCCESS"])
    assert poll(lambda: next(states), interval_s=0, sleep=lambda _: None) == "SUCCESS"


def test_poll_terminal_failure():
    with pytest.raises(RuntimeError, match="ERROR"):
        poll(lambda: "ERROR", sleep=lambda _: None)


def test_poll_timeout():
    clock = iter(range(100))
    with pytest.raises(PollTimeout):
        poll(
            lambda: "IN_PROGRESS",
            interval_s=1,
            timeout_s=3,
            sleep=lambda _: None,
            clock=lambda: float(next(clock)),
        )


def test_identifier_clamp_and_secret():
    assert clamp_identifier("x" * 64) == "x" * 29  # psql-backups.sh:56-62 semantics
    pw = scratch_password()
    assert pw.isalnum() and len(pw) >= 20


def test_config_env_defaults(monkeypatch):
    monkeypatch.setenv("ATTEMPTS", "3")
    monkeypatch.setenv("SERVICE_NAME", "svc-from-env")
    cfg = JobConfig()
    assert cfg.attempts == 3
    assert cfg.service_name == "svc-from-env"


def _reference_hash(df) -> int:
    # the content-hash formula manifests have always recorded, as one
    # plain aggregate: Σ xxhash64 over the sorted, string-cast columns
    # in decimal(38,0), mod 2^64
    row_hash = F.xxhash64(*[F.col(c).cast("string") for c in sorted(df.columns)])
    out = df.agg(F.sum(row_hash.cast("decimal(38,0)"))).collect()[0][0]
    return int(out) % (1 << 64) if out is not None else 0


def test_manifest_matches_reference_fingerprints(spark, sf_dir, tmp_path):
    # manifests written by the observed fingerprint keep the old values,
    # so snapshots taken before it still verify: rows from the parquet
    # footers, content hash from the reference aggregate over the source
    tables = ("region", "nation", "supplier", "orders", "events")
    cfg = JobConfig(service_name="compat", env_name="test", tables=tables)
    sdir = snapshot(spark, sf_dir, str(tmp_path / "compat"), cfg=cfg, partition_cols={"orders": ["o_orderstatus"]})
    with open(os.path.join(sdir, MANIFEST_NAME)) as fh:
        entries = json.load(fh)["tables"]
    assert list(entries) == list(tables)
    for name in tables:
        assert entries[name]["n_rows"] == pq.ParquetFile(catalog.table_path(sf_dir, name)).metadata.num_rows
        assert entries[name]["content_hash"] == _reference_hash(catalog.load_table(spark, sf_dir, name))


def test_fingerprint_of_empty_table(spark):
    assert fingerprint(spark.createDataFrame([], "a INT, b STRING")) == (0, 0)


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_budget_per_table(spark, sf_dir, tmp_path):
    # at most 4 Spark jobs per table and call (load, write with the
    # observed source fingerprint, read back, fingerprint); counting by
    # job group also proves the group reaches the per-table threads
    tables = ("orders", "lineitem", "events")
    cfg = JobConfig(service_name="budget", env_name="test", tables=tables)
    sdir, n_snap = _jobs_in_group(
        spark, f"budget-snapshot-{uuid.uuid4()}", lambda: snapshot(spark, sf_dir, str(tmp_path / "b"), cfg=cfg)
    )
    result, n_verify = _jobs_in_group(
        spark, f"budget-verify-{uuid.uuid4()}", lambda: verify_snapshot(spark, sdir, str(tmp_path / "bs"))
    )
    assert result.ok, result.issues
    assert 0 < n_snap <= 4 * len(tables)
    assert 0 < n_verify <= 4 * len(tables)


def test_snapshot_refuses_restore_mismatch(spark, tmp_path, monkeypatch):
    # partition inference reads the string partition values "001", "010",
    # "100" back as INT 1, 10, 100: the written snapshot would not restore
    # its source, so the snapshot must fail and leave no artifact
    src = str(tmp_path / "src" / "t")
    spark.createDataFrame([(1, "001"), (2, "010"), (3, "100")], "id INT, k STRING").write.parquet(src)
    monkeypatch.setattr(snap_mod.catalog, "load_table", lambda sp, d, n: sp.read.parquet(src))
    out = str(tmp_path / "out")
    cfg = JobConfig(service_name="mismatch", env_name="test", tables=("t",))
    with pytest.raises(SnapshotMismatchError, match="snapshot of t"):
        snapshot(spark, str(tmp_path / "src"), out, cfg=cfg, snapshot_ts="night1", partition_cols={"t": ["k"]})
    snap_root = os.path.join(out, cfg.snapshot_prefix())
    assert not os.path.exists(os.path.join(snap_root, LOCK_NAME))
    assert not os.path.exists(os.path.join(snap_root, CHECKINS_NAME))
    assert not os.path.exists(os.path.join(snap_root, "night1", MANIFEST_NAME))
    assert not os.path.exists(os.path.join(snap_root, "night1"))


def test_ship_package_ships_once_under_threads(monkeypatch, tmp_path):
    # concurrent first calls (a snapshot's table threads in a fresh
    # session) must build and ship the package zip exactly once
    from pyspark import SparkFiles

    shipped: list[str] = []

    class StubContext:
        applicationId = f"stub-{uuid.uuid4()}"

        def addPyFile(self, path: str) -> None:
            shipped.append(path)

    class StubSession:
        sparkContext = StubContext()

    monkeypatch.setattr(SparkFiles, "getRootDirectory", classmethod(lambda cls: str(tmp_path)))
    barrier = threading.Barrier(8, timeout=30)
    errors: list[Exception] = []

    def call() -> None:
        try:
            barrier.wait()
            catalog._ship_package(StubSession())
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=call) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(shipped) == 1
    assert shipped[0].startswith(str(tmp_path))
    with zipfile.ZipFile(shipped[0]) as zf:
        assert zf.testzip() is None
        assert "datapipeline_scripts_spark/catalog.py" in zf.namelist()
