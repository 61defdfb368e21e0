"""The three closed-loop workloads. One caller issues one operation at a
time (a ``sync_buckets`` tick, or one pass over the registry subset) and
waits for it.

Each workload has ``setup`` (inputs and output references), ``warm_up``
(discarded ops) and ``op`` (one timed operation, checked; returns its wall
and whether it passed). ``last`` holds the facts about the latest op that
the per-layer metrics need."""

from __future__ import annotations

import contextlib
import os
import shutil
import time

from gen import MIB, apply_drift, count_files, make_bucket, make_tables, plan_drift, tree_digest

N_SYNC_OBJECTS = {"sync_initial": 96, "sync_incremental": 128}
LARGE_SHARE = {"sync_initial": 0.10, "sync_incremental": 0.01}
WARM_TICKS = 4

REGISTRY_SCALE = 0.01
REGISTRY_EVERY_K = 52
WARM_PASSES = 12


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


class SyncWorkload:
    """One mapping between two local buckets, ticked with ``sync_buckets``.

    ``sync_initial`` resets target and state before every tick, so each tick
    copies the whole bucket. ``sync_incremental`` keeps them, and applies a
    seeded drift (1 % modified, 0.5 % new, 0.5 % deleted) before each tick."""

    def __init__(self, name: str, spark, work: str, seed: int) -> None:
        from cloud_data_sync_spark.config import BucketMapping, Config

        self.name, self.spark, self.seed = name, spark, seed
        self.initial = name == "sync_initial"
        self.src_parent = os.path.join(work, "src")
        self.tgt_parent = os.path.join(work, "tgt")
        self.state_path = os.path.join(work, "state")
        self.cfg = Config(
            providers=[
                {"id": "src", "type": "minio", "minioConfig": {"endpoint": self.src_parent}},
                {"id": "tgt", "type": "minio", "minioConfig": {"endpoint": self.tgt_parent}},
            ],
            mappings=[],
        )
        self.mapping = BucketMapping("src", "bucket", "tgt", "bucket")
        self.cfg.mappings.append(self.mapping)
        self.bucket = None
        self.tick = 0
        self.last: dict = {}
        self.report: dict[str, int] = {}

    @property
    def tgt_root(self) -> str:
        return os.path.join(self.tgt_parent, "bucket")

    def setup(self) -> None:
        self.bucket = make_bucket(
            os.path.join(self.src_parent, "bucket"),
            self.seed,
            N_SYNC_OBJECTS[self.name],
            LARGE_SHARE[self.name],
        )
        if not self.initial:
            self._reset()
            self._tick_checked(expect={"copy_success": len(self.bucket.objects)})

    def warm_up(self) -> None:
        for _ in range(WARM_TICKS):
            self.op()

    def _reset(self) -> None:
        shutil.rmtree(self.tgt_parent, ignore_errors=True)
        shutil.rmtree(self.state_path, ignore_errors=True)

    def op(self, tracer=None) -> tuple[float, bool]:
        self.tick += 1
        if self.initial:
            self._reset()
            expect = {"copy_success": len(self.bucket.objects)}
            copied = self.bucket.total_bytes
        else:
            drift = plan_drift(self.bucket, self.seed, self.tick)
            apply_drift(self.bucket, drift)
            expect = drift.expected_counts
            copied = sum(self.bucket.objects[n][0] for n in drift.modified + drift.new)
        listed = count_files(self.bucket.root) + count_files(self.tgt_root)
        wall, ok = self._tick_checked(expect)
        self.last = {"listed": listed, "copied_mib": copied / MIB, "objects": len(self.bucket.objects)}
        return wall, ok

    def _tick_checked(self, expect: dict[str, int]) -> tuple[float, bool]:
        from cloud_data_sync_spark import runner, state

        t0 = time.perf_counter()
        report = runner.sync_buckets(self.spark, self.cfg, self.mapping, self.state_path)
        wall = time.perf_counter() - t0
        self.report = report.counts
        checks = {
            "counts": report.counts == expect,
            "tree": tree_digest(self.bucket.root) == tree_digest(self.tgt_root),
            "state_rows": state.load_state(self.spark, self.state_path).count()
            == len(self.bucket.objects),
        }
        self.failed_checks = [k for k, ok in checks.items() if not ok]
        if self.failed_checks:
            print(
                f"perfbench: tick {self.tick} failed {self.failed_checks}: "
                f"report {report.counts}, expected {expect}",
                flush=True,
            )
        return wall, not self.failed_checks

    def items(self) -> int:
        return self.last["objects"]


def module_label(spec) -> str:
    """The layer a registered query belongs to: the module defining it."""
    mod = getattr(spec.fn, "__wrapped__", spec.fn).__module__.split(".", 1)[1]
    if mod.startswith("streaming."):
        return "streaming"
    if mod == "sync":
        return "sync.queries"
    return mod


def registry_subset(specs: dict, k: int = REGISTRY_EVERY_K) -> list[str]:
    """Every k-th key of the sorted registry, starting with the first."""
    return sorted(specs)[::k]


class RegistryWorkload:
    """Passes over a fixed subset of ``registry.all_queries()``, each key
    built and executed into the ``noop`` sink, against seeded tables."""

    name = "registry_sweep"

    def __init__(self, spark, work: str, seed: int) -> None:
        from cloud_data_sync_spark.registry import all_queries

        self.spark, self.seed = spark, seed
        self.sf_dir = os.path.join(work, "tables")
        self.specs = all_queries()
        self.keys = registry_subset(self.specs)
        self.cold: dict[str, tuple[float, float]] = {}
        self.walls: list[tuple[str, float]] = []  # (key, wall) of every timed run
        self.failed_keys: set[str] = set()

    def run_key(self, key: str, tracer=None) -> tuple[float, float]:
        with _span(tracer, "registry.build"):
            t0 = time.perf_counter()
            df = self.specs[key].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
        with _span(tracer, "registry.exec"):
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    def setup(self) -> None:
        make_tables(self.sf_dir, self.seed, REGISTRY_SCALE)
        expected = self._oracle_rows()
        # the cold pass executes each key as a row count: its first execution
        # is also the output check against the DuckDB oracle
        for key in self.keys:
            try:
                t0 = time.perf_counter()
                df = self.specs[key].fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                rows = df.count()
                self.cold[key] = (t1 - t0, time.perf_counter() - t1)
            except Exception as exc:  # noqa: BLE001 - recorded as a failed key
                print(f"perfbench: {key} raised in the cold pass: {exc}", flush=True)
                self.failed_keys.add(key)
                continue
            if key in expected and rows != expected[key]:
                print(f"perfbench: {key} has {rows} rows, oracle {expected[key]}", flush=True)
                self.failed_keys.add(key)

    def warm_up(self) -> None:
        for _ in range(WARM_PASSES):
            for key in self.keys:
                if key not in self.failed_keys:
                    self.run_key(key)

    def _oracle_rows(self) -> dict[str, int]:
        """Row count of each subset key's DuckDB oracle, where it has one."""
        import duckdb

        from cloud_data_sync_spark.tables import TABLE_NAMES, table_path

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(self.sf_dir, t)}')"
                )
            out = {}
            for key in self.keys:
                sql = self.specs[key].oracle
                if sql:
                    out[key] = con.execute(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
            return out
        finally:
            con.close()

    def op(self, tracer=None) -> tuple[float, bool]:
        """One pass over the subset; its wall is the sum of per-key walls."""
        total = 0.0
        ok = not self.failed_keys
        for key in self.keys:
            if tracer is not None and tracer.active:
                tracer.trace_id = key
            try:
                build, execute = self.run_key(key, tracer)
            except Exception as exc:  # noqa: BLE001 - recorded as a failed key
                print(f"perfbench: {key} raised: {exc}", flush=True)
                self.failed_keys.add(key)
                ok = False
                continue
            total += build + execute
            self.walls.append((key, build + execute))
        return total, ok

    def items(self) -> int:
        return len(self.keys)
