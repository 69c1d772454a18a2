"""The benchmark's input tables.

``fixtures/sf0.01/`` holds a copy of the engine's seed-42 test fixtures
at scale factor 0.01: the ten catalog tables (``catalog.TABLES``), one
parquet file each, 1.9 MB in all. They are never modified; each run
copies them into its own work directory.

The workload seed acts only through ``make_night_two``, which picks the
rows that change between two nightly snapshots.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datapipeline_scripts_spark.catalog import TABLES

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")
# the night-two copy rewrites this share of the rows of these tables;
# every other table is copied byte for byte
CHANGING_TABLES = ("orders", "events")
NIGHT_TWO_SHARE = 0.01


def table_file(data_dir: str, name: str) -> str:
    return os.path.join(data_dir, f"{name}.parquet")


def copy_fixtures(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        shutil.copyfile(table_file(FIXTURE_DIR, name), table_file(out_dir, name))


def digest(data_dir: str) -> str:
    """sha256 over every table file, in catalog order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(table_file(data_dir, name), "rb") as fh:
            h.update(name.encode() + b"\0" + fh.read())
    return h.hexdigest()


def source_bytes(data_dir: str, tables: tuple[str, ...] = TABLES) -> int:
    return sum(os.path.getsize(table_file(data_dir, n)) for n in tables)


def make_night_two(base_dir: str, out_dir: str, seed: int) -> dict[str, int]:
    """Copy ``base_dir`` to ``out_dir`` and change ``NIGHT_TWO_SHARE`` of
    the rows of ``CHANGING_TABLES`` (picked by ``seed``). Returns rows
    changed per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    changed: dict[str, int] = {}
    for name in TABLES:
        src, dst = table_file(base_dir, name), table_file(out_dir, name)
        if name not in CHANGING_TABLES:
            shutil.copyfile(src, dst)
            continue
        table = pq.read_table(src)
        rows = rng.choice(table.num_rows, max(1, int(table.num_rows * NIGHT_TWO_SHARE)), replace=False)
        col = "o_totalprice" if name == "orders" else "value"
        values = table.column(col).to_numpy().copy()
        values[rows] = np.round(values[rows] + rng.uniform(1.0, 100.0, len(rows)), 2)
        table = table.set_column(table.schema.get_field_index(col), col, pa.array(values))
        pq.write_table(table, dst)
        changed[name] = len(rows)
    return changed
