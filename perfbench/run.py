#!/usr/bin/env python3
"""End-to-end benchmark of the engine: seeded key mixes and the nightly
snapshot -> verify job, fully materialized, with an event-log trace.

Run from the repository root:

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each was chosen):

- ``relational_mix`` / ``corpus_mix``: every key of the mix is built with
  ``QuerySpec.build`` and fully materialized through a ``noop`` sink.
  A first, untimed check pass builds each key and compares its
  order-insensitive fingerprint with the DuckDB oracle's; it also warms
  the JVM. Timed passes follow until ``--seconds`` have passed.
- ``snapshot_verify``: the reference's nightly job -- ``snapshot`` three
  catalog tables (``SNAPSHOT_TABLES``), ``verify_snapshot`` it,
  ``snapshot`` night two (about 1% of the ``orders`` and ``events`` rows
  changed) in incremental mode, and verify again. Every cycle is checked after it ends.

The seed shuffles the key order of every pass and picks the rows that
change on night two. The inputs are a copy of the engine's sf0.01 test
fixtures (``perfbench/fixtures/``), the same for every seed, so the
oracle fingerprints are computed once per (oracle SQL, input digest,
oracle code, DuckDB version) and cached under ``.perfbench_cache/``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on
Spark's JSON event log, folds it into per-span counters, prints the
per-layer metrics, writes the spans to ``.perfbench_out/`` and deletes
the raw log. The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from dataclasses import asdict, dataclass

import eventlog
import procmon

inputs = None  # perfbench/inputs.py, imported once the engine is on sys.path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "datapipeline_scripts_spark"
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# even counts, so that op_p50_s averages the two middle keys of a pass
# instead of following the run-to-run noise of a single key
RELATIONAL_KEYS = (
    "join_star", "tpch_q3_shape", "tpch_q5_shape", "tpch_q9_shape", "tpch_q18_shape", "events_funnel",
)  # fmt: skip
CORPUS_KEYS = ("corpus_selection_pipeline", "dedup_minhash", "asof_join_pandas", "udf_arrow")
# the nightly job's catalog: both changing tables and the largest table, which stays the same
SNAPSHOT_TABLES = ("orders", "lineitem", "events")
WORKLOADS = {"relational_mix": RELATIONAL_KEYS, "corpus_mix": CORPUS_KEYS, "snapshot_verify": ()}
PIPELINE_STEPS = ("snapshot", "verify", "incremental", "verify_incremental")


@dataclass
class Span:
    sid: str
    parent: str
    kind: str  # pass | build | action | input_scan | a pipeline step
    t0: float  # epoch seconds, the clock Spark stamps tasks with
    t1: float

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    vals = sorted(values)
    pos = q * (len(vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


class OracleCache:
    """Expected (columns, render classes, rows, fingerprint) per key,
    computed with DuckDB once per (oracle SQL, input digest, oracle code,
    DuckDB version)."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        from datapipeline_scripts_spark import oracle

        self.data_dir = data_dir
        os.makedirs(CACHE_DIR, exist_ok=True)
        h = hashlib.sha256()
        for part in (inputs.digest(data_dir), inspect.getsource(oracle), duckdb.__version__):
            h.update(part.encode() + b"\0")
        self.path = os.path.join(CACHE_DIR, f"oracle-{h.hexdigest()[:20]}.json")
        self.entries: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self.entries = json.load(fh)

    def expected(self, key: str, sql: str) -> list:
        from datapipeline_scripts_spark.oracle import _duck_fingerprint, duck_connection

        sql_hash = hashlib.sha256(sql.encode()).hexdigest()
        entry = self.entries.get(key)
        if entry is None or entry["sql"] != sql_hash:
            with duck_connection(self.data_dir) as con:
                fp = _duck_fingerprint(con, sql)
            entry = self.entries[key] = {"sql": sql_hash, "fp": json.loads(json.dumps(fp))}
            tmp = f"{self.path}.{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(self.entries, fh)
            os.replace(tmp, self.path)
        return entry["fp"]


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload, self.seconds, self.trace = workload, seconds, trace
        self.seed = seed
        self.rng = random.Random(seed)
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        names = ("data", "night2", "tmp", "local", "warehouse", "eventlog", "snap")
        self.dirs = {n: os.path.join(self.work, n) for n in names}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        # everything the program puts in temp space lands in this run's directory
        os.environ["TMPDIR"] = self.dirs["tmp"]
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = self.dirs["local"]
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        self.spark = None
        self.queries: dict = {}
        self.spans: list[Span] = []
        self.attempted = 0
        self.failed_ops: set[str] = set()
        self.setup_s = 0.0
        self.source_bytes = 0
        self.layer: dict[str, float] = {}
        self.op_latencies: list[float] = []
        self.cycle_stats: list[dict[str, float]] = []
        self.peaks: dict[str, float] = {}
        self.leaked_bytes = 0
        self.counters: dict[str, eventlog.SpanCounters] = {}

    def fail(self, op: str, why: object) -> None:
        self.failed_ops.add(op)
        print(f"[perfbench] FAIL {op}: {why}", file=sys.stderr, flush=True)

    @contextmanager
    def span(self, sid: str, parent: str, kind: str):
        self.spark.sparkContext.setJobGroup(sid, kind)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(sid, parent, kind, t0, time.time()))

    def timed_passes(self) -> list[Span]:
        return [s for s in self.spans if s.kind == "pass" and not s.sid.endswith("/check")]

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        """Copy of the fixtures (and night two), session start and
        registry load; ``setup_s`` is their sum."""
        t = time.perf_counter()
        inputs.copy_fixtures(self.dirs["data"])
        if self.workload == "snapshot_verify":
            inputs.make_night_two(self.dirs["data"], self.dirs["night2"], self.seed)
        copy_s = time.perf_counter() - t

        from datapipeline_scripts_spark.registry import all_queries
        from datapipeline_scripts_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.dirs["eventlog"],
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", **conf)
        start_s = time.perf_counter() - t
        t = time.perf_counter()
        self.queries = all_queries()
        registry_s = time.perf_counter() - t
        self.layer["session.start_s"] = start_s
        self.layer["registry.load_s"] = registry_s
        self.setup_s = copy_s + start_s + registry_s
        self.source_bytes = inputs.source_bytes(self.dirs["data"])

    # -- key mixes ----------------------------------------------------------

    def key_pass(self, label: str, keys: list[str], oracle: OracleCache | None) -> None:
        """Build and materialize every key once. With ``oracle`` the
        action is the fingerprint, compared with the expected one."""
        from datapipeline_scripts_spark.oracle import _spark_fingerprint

        pass_id = f"{self.workload}/{label}"
        with self.span(pass_id, self.workload, "pass"):
            for key in keys:
                op = f"{label}/{key}"
                self.attempted += 1
                spec = self.queries[key]
                try:
                    with self.span(f"{pass_id}/{key}/build", pass_id, "build"):
                        df = spec.build(self.spark, self.dirs["data"])
                    with self.span(f"{pass_id}/{key}/action", pass_id, "action"):
                        if oracle is None:
                            df.write.format("noop").mode("overwrite").save()
                        else:
                            got = json.loads(json.dumps(_spark_fingerprint(df)))
                except Exception as exc:  # a key that raises is a failed operation; the run goes on
                    self.fail(op, repr(exc))
                    continue
                if oracle is None:
                    self.op_latencies.append(self.spans[-1].wall + self.spans[-2].wall)
                elif got != oracle.expected(key, spec.oracle):
                    self.fail(op, f"fingerprint {got} != oracle {oracle.expected(key, spec.oracle)}")

    def run_keys(self) -> None:
        keys = list(WORKLOADS[self.workload])
        missing = [k for k in keys if k not in self.queries or self.queries[k].oracle is None]
        if missing:
            raise RuntimeError(f"keys without a registered oracle: {missing}")
        oracle = OracleCache(self.dirs["data"])
        for key in keys:  # fill the cache before anything is timed
            oracle.expected(key, self.queries[key].oracle)
        self.rng.shuffle(keys)
        self.key_pass("check", keys, oracle)
        self.layer["cold.pass_s"] = self.spans[-1].wall
        start = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - start < self.seconds:
            self.rng.shuffle(keys)
            self.key_pass(f"pass{i}", keys, None)
            i += 1

    # -- nightly snapshot -> verify -------------------------------------------

    def cycle(self, label: str) -> None:
        import pyarrow.parquet as pq

        from datapipeline_scripts_spark.pipeline.config import JobConfig
        from datapipeline_scripts_spark.pipeline.snapshot import LOCK_NAME, MANIFEST_NAME, snapshot
        from datapipeline_scripts_spark.pipeline.verify import verify_snapshot

        data, night2 = self.dirs["data"], self.dirs["night2"]
        root = os.path.join(self.dirs["snap"], label)
        scratch = os.path.join(self.dirs["snap"], f"{label}-scratch")
        pass_id = f"{self.workload}/{label}"
        cfg = JobConfig(tables=SNAPSHOT_TABLES)
        calls = {
            "snapshot": lambda out: snapshot(self.spark, data, root, cfg=cfg, snapshot_ts="night1"),
            "verify": lambda out: verify_snapshot(self.spark, out["snapshot"], scratch),
            "incremental": lambda out: snapshot(
                self.spark, night2, root, cfg=cfg, snapshot_ts="night2",
                base_manifest=os.path.join(out["snapshot"], MANIFEST_NAME),
            ),
            "verify_incremental": lambda out: verify_snapshot(self.spark, out["incremental"], scratch),
        }  # fmt: skip
        out: dict = {}
        self.attempted += len(PIPELINE_STEPS)
        with self.span(pass_id, self.workload, "pass"):
            for step in PIPELINE_STEPS:
                try:
                    with self.span(f"{pass_id}/{step}", pass_id, step):
                        out[step] = calls[step](out)
                except Exception as exc:  # a step that raises fails; later steps cannot run
                    self.fail(f"{label}/{step}", repr(exc))
                    break
        for step in PIPELINE_STEPS:
            if step not in out:
                self.fail(f"{label}/{step}", "not run")
        if len(out) < len(PIPELINE_STEPS):
            shutil.rmtree(root, ignore_errors=True)
            return
        # checks, outside the timed steps
        for step in ("verify", "verify_incremental"):
            if not out[step].ok:
                self.fail(f"{label}/{step}", out[step].issues)
        manifests = {}
        for step, src in (("snapshot", data), ("incremental", night2)):
            with open(os.path.join(out[step], MANIFEST_NAME)) as fh:
                manifests[step] = json.load(fh)["tables"]
            for name in SNAPSHOT_TABLES:
                rows = pq.ParquetFile(inputs.table_file(src, name)).metadata.num_rows
                got = manifests[step].get(name, {}).get("n_rows")
                if got != rows:
                    self.fail(f"{label}/{step}", f"manifest n_rows[{name}]={got}, input has {rows}")
        leftovers = [os.path.join(d, LOCK_NAME) for d, _s, files in os.walk(root) if LOCK_NAME in files]
        if leftovers or os.path.exists(scratch):
            self.fail(f"{label}/verify_incremental", f"left behind: {leftovers or scratch}")
        rewritten = {t for t, e in manifests["incremental"].items() if "based_on" not in e}
        if not set(inputs.CHANGING_TABLES) <= rewritten:
            self.fail(f"{label}/incremental", f"changed tables not rewritten: {sorted(rewritten)}")
        self.cycle_stats.append(
            {
                "stored_bytes_ratio": dir_bytes(out["snapshot"]) / inputs.source_bytes(data, SNAPSHOT_TABLES),
                "incremental_bytes_ratio": dir_bytes(out["incremental"]) / inputs.source_bytes(night2, SNAPSHOT_TABLES),
                "rewrite_precision": len(rewritten & set(inputs.CHANGING_TABLES)) / max(1, len(rewritten)),
            }
        )
        shutil.rmtree(root, ignore_errors=True)

    def run_nightly(self) -> None:
        start = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - start < self.seconds:
            self.cycle(f"pass{i}")
            i += 1
        for s in self.timed_passes():
            self.op_latencies += [c.wall for c in self.spans if c.parent == s.sid]

    # -- input-byte counter check (traced runs) -------------------------------

    def scan_inputs(self) -> None:
        """Plain full scans of every input table, so the event log's
        input bytes can be compared with the file sizes."""
        for name in inputs.TABLES:
            with self.span(f"{self.workload}/input_scan/{name}", "input_scan", "input_scan"):
                self.spark.read.parquet(inputs.table_file(self.dirs["data"], name)).write.format(
                    "noop"
                ).mode("overwrite").save()

    # -- teardown -----------------------------------------------------------

    def shutdown(self, sampler: procmon.RssSampler) -> None:
        """Stop Spark and the JVM, wait for every child process, measure
        what the program left in temp space, then delete the run's files."""
        self.peaks = sampler.peaks_mb()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on EOF and runs its shutdown hooks
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        sampler.stop()
        sampler.sample(os.getpid())
        for pid in sampler.wait_for_exit(timeout=60):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        sampler.wait_for_exit(timeout=10)
        self.leaked_bytes = sum(dir_bytes(self.dirs[n]) for n in ("tmp", "local", "warehouse"))
        if self.trace:
            logs = [os.path.join(self.dirs["eventlog"], f) for f in os.listdir(self.dirs["eventlog"])]
            for log in logs:
                for sid, c in eventlog.fold(log).items():
                    self.counters[sid] = c
                os.remove(log)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass

    # -- results ------------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        passes = [s.wall for s in self.timed_passes()]
        ok_rate = 1.0 - len(self.failed_ops) / max(1, self.attempted)
        return {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (statistics.median(passes), "s"),
            "op_p50_s": (quantile(self.op_latencies or [0.0], 0.5), "s"),
            "op_p90_s": (quantile(self.op_latencies or [0.0], 0.9), "s"),
            "ok_rate": (ok_rate, "ratio"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        timed = self.timed_passes()
        n = len(timed)
        ids = {s.sid for s in timed}
        leaves = [s for s in self.spans if s.parent in ids]
        empty = eventlog.SpanCounters()

        def c(s: Span) -> eventlog.SpanCounters:
            return self.counters.get(s.sid, empty)

        def total(spans: list[Span], field: str) -> float:
            return sum(getattr(c(s), field) for s in spans) / n

        def wall(spans: list[Span]) -> float:
            return sum(s.wall for s in spans) / n

        build = [s for s in leaves if s.kind == "build"]
        action = [s for s in leaves if s.kind == "action"]
        leaf_wall = sum(s.wall for s in leaves)
        no_task = sum(s.wall - eventlog.covered_ms(c(s).task_intervals, s.t0 * 1e3, s.t1 * 1e3) / 1e3 for s in leaves)
        m: dict[str, tuple[float, str]] = {
            "session.start_s": (self.layer["session.start_s"], "s"),
            "registry.load_s": (self.layer["registry.load_s"], "s"),
            "cold.pass_s": (self.layer.get("cold.pass_s", 0.0), "s"),
            "build.s": (wall(build), "s"),
            "build.jobs": (total(build, "jobs"), "count"),
            "action.s": (wall(action), "s"),
            "action.jobs": (total(action, "jobs"), "count"),
            "action.stages": (total(action, "stages"), "count"),
            "action.tasks": (total(action, "tasks"), "count"),
            "spark.task_run_s": (total(leaves, "task_run_ms") / 1e3, "s"),
            "spark.task_deser_s": (total(leaves, "task_deser_ms") / 1e3, "s"),
            "spark.busy_share": (
                sum(c(s).task_run_ms for s in leaves) / 1e3 / (leaf_wall * self.cores) if leaf_wall else 0.0,
                "ratio",
            ),
            "spark.no_task_s": (no_task / n, "s"),
            "spark.shuffle_read_bytes": (total(leaves, "shuffle_read_bytes"), "bytes"),
            "spark.shuffle_write_bytes": (total(leaves, "shuffle_write_bytes"), "bytes"),
            "spark.spill_bytes": (total(leaves, "spill_bytes"), "bytes"),
            "spark.output_bytes": (total(leaves, "output_bytes"), "bytes"),
        }
        scans = [s for s in self.spans if s.kind == "input_scan"]
        scanned = sum(c(s).input_bytes for s in scans)
        m["spark.input_scan_ratio"] = (scanned / self.source_bytes if scans else 0.0, "ratio")
        for layer, kinds in (("snapshot", ("snapshot",)), ("verify", ("verify", "verify_incremental")), ("incremental", ("incremental",))):
            steps = [s for s in leaves if s.kind in kinds]
            m[f"pipeline.{layer}.s"] = (wall(steps), "s")
            m[f"pipeline.{layer}.jobs"] = (total(steps, "jobs"), "count")
            m[f"pipeline.{layer}.task_run_s"] = (total(steps, "task_run_ms") / 1e3, "s")
            m[f"pipeline.{layer}.output_bytes"] = (total(steps, "output_bytes"), "bytes")
        cyc = self.cycle_stats

        def cyc_median(k: str) -> float:
            return statistics.median(x[k] for x in cyc) if cyc else 0.0

        m["pipeline.incremental.rewrite_precision"] = (cyc_median("rewrite_precision"), "ratio")
        m["pipeline.snapshot.stored_bytes_ratio"] = (cyc_median("stored_bytes_ratio"), "ratio")
        m["pipeline.incremental.bytes_ratio"] = (cyc_median("incremental_bytes_ratio"), "ratio")
        m["process_tree.peak_rss_mb"] = (self.peaks["total"], "MB")
        m["jvm.peak_rss_mb"] = (self.peaks["jvm"], "MB")
        m["python_worker.peak_rss_mb"] = (self.peaks["python_worker"], "MB")
        m["tmp.leaked_bytes"] = (float(self.leaked_bytes), "bytes")
        m["trace.pass_s"] = (statistics.median(s.wall for s in timed), "s")
        m["trace.uncovered_s"] = ((sum(s.wall for s in timed) - leaf_wall) / n, "s")
        return m

    def write_spans(self) -> None:
        """Spans with their counters, plus each layer's share of pass_s."""
        timed = self.timed_passes()
        ids = {s.sid for s in timed}
        pass_total = sum(s.wall for s in timed)
        shares: dict[str, float] = {}
        for s in self.spans:
            if s.parent in ids:
                layer = "verify" if s.kind == "verify_incremental" else s.kind
                shares[layer] = shares.get(layer, 0.0) + s.wall / pass_total
        shares["uncovered"] = 1.0 - sum(shares.values())
        largest = max(shares, key=shares.get)
        os.makedirs(OUT_DIR, exist_ok=True)
        path = os.path.join(OUT_DIR, f"{self.workload}-seed{self.seed}-spans.json")
        spans = []
        for s in self.spans:
            counters = asdict(self.counters.get(s.sid, eventlog.SpanCounters()))
            del counters["task_intervals"]
            spans.append({**asdict(s), "wall_s": s.wall, **counters})
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "seed": self.seed, "shares_of_pass_s": shares, "largest_layer": largest, "spans": spans}, fh, indent=1)
        summary = ", ".join(f"{k} {v:.1%}" for k, v in sorted(shares.items(), key=lambda kv: -kv[1]))
        print(f"[perfbench] shares of pass_s: {summary}; largest layer: {largest}; spans in {path}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"[perfbench] {PACKAGE}/ not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    global inputs
    import inputs

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    sampler = procmon.RssSampler()
    sampler.start()
    ok = True
    try:
        bench.setup()
        if args.workload == "snapshot_verify":
            bench.run_nightly()
        else:
            bench.run_keys()
        if bench.trace:  # after the timed passes, so that it warms nothing they measure
            bench.scan_inputs()
    except Exception:  # the run cannot produce a result; report and exit non-zero
        traceback.print_exc()
        ok = False
    finally:
        bench.shutdown(sampler)
    if not ok:
        return 1
    walls = ", ".join(f"{s.sid.rsplit('/', 1)[-1]} {s.wall:.2f}s" for s in bench.spans if s.kind == "pass")
    peaks = ", ".join(f"{k} {v:.0f}" for k, v in bench.peaks.items())
    print(f"[perfbench] setup {bench.setup_s:.2f}s; passes: {walls}; peak RSS MB: {peaks}", file=sys.stderr)
    metrics = bench.per_layer() if bench.trace else bench.end_to_end()
    if bench.trace:
        bench.write_spans()
    result = {
        "correct": not bench.failed_ops,
        "attempted": bench.attempted,
        "failed": len(bench.failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
