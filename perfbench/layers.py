"""Per-layer metrics of a traced run, from its spans, the Spark event log and
the per-op facts the workload recorded. Every value is a mean per traced
operation (one tick, or one pass over the registry subset) unless its name
says otherwise. A metric's unit follows from its name (``unit_of``)."""

from __future__ import annotations

import statistics

from stats import TASK_FIELDS
from spans import group_id, self_times, subtree

OPERATOR_LAYERS = (
    "operators.analytics",
    "operators.relational",
    "operators.dedup",
    "operators.text",
    "operators.tpch",
    "operators.corpus",
    "operators.ml",
    "operators.similarity",
    "operators.governance",
    "operators.multimodal",
    "operators.maintenance",
    "operators.optstats",
    "operators.bucketed",
    "functions.udfs",
    "streaming",
    "sync.queries",
)

SPARK_FIELDS = {
    "spark.tasks": "tasks",
    "spark.task_failures": "task_failures",
    "spark.shuffle_write_mib": "shuffle_write_mib",
    "spark.shuffle_read_mib": "shuffle_read_mib",
    "spark.spill_mib": "spill_mib",
    "spark.executor_run_s": "run_s",
    "spark.executor_cpu_s": "cpu_s",
    "spark.gc_s": "gc_s",
}


def unit_of(name: str) -> str:
    for suffix, unit in (
        ("mib_per_s", "MiB/s"),
        ("us_per_object", "us"),
        ("_mib", "MiB"),
        ("_s", "s"),
        (".s", "s"),
        ("_ratio", "ratio"),
        ("_cores", "cores"),
        ("load_start", "load"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


class SpanIndex:
    """Spans joined with the jobs their job groups launched."""

    def __init__(self, spans, job_group, job_stages, job_totals) -> None:
        self.spans = spans
        self.selfs = self_times(spans)
        by_group: dict[str, list[int]] = {}
        for job, grp in job_group.items():
            if grp is not None:
                by_group.setdefault(grp, []).append(job)
        self.own_jobs = [by_group.get(group_id(i), []) for i in range(len(spans))]
        self.job_stages = job_stages
        self.job_totals = job_totals

    def named(self, *names: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name in names]

    def seconds(self, idx: list[int]) -> float:
        return sum(self.spans[i].duration for i in idx)

    def jobs(self, idx: list[int]) -> list[int]:
        """Jobs launched inside the given spans or their descendants."""
        members = set()
        for i in idx:
            members.update(subtree(self.spans, i))
        return [job for i in sorted(members) for job in self.own_jobs[i]]

    def totals(self, jobs: list[int]) -> dict[str, float]:
        out = dict.fromkeys(TASK_FIELDS, 0.0)
        for job in jobs:
            for k, v in self.job_totals.get(job, {}).items():
                out[k] += v
        out["stages"] = sum(len(self.job_stages.get(job, ())) for job in jobs)
        return out


def spark_metrics(ix: SpanIndex, jobs: list[int], n: int) -> dict[str, float]:
    t = ix.totals(jobs)
    out = {"spark.jobs": len(jobs) / n, "spark.stages": t["stages"] / n}
    out.update({name: t[field] / n for name, field in SPARK_FIELDS.items()})
    return out


def sync_metrics(ix: SpanIndex, facts: list[dict]) -> dict[str, float]:
    n = len(facts)
    ticks = ix.named("tick")
    listing = ix.named("listing")
    diff = ix.named("sync.diff", "materialize:sync.diff")
    execu = ix.named("executor", "materialize:executor")
    merge = ix.named("state.merge", "materialize:state.merge")
    save = ix.named("state.save")
    listed = sum(f["listed"] for f in facts)
    report = [f["report"] for f in facts]
    executor_s = ix.seconds(execu)
    copied_mib = sum(f["copied_mib"] for f in facts)
    tick_jobs = ix.jobs(ticks)
    t = ix.totals(tick_jobs)

    def action(*keys: str) -> float:
        return sum(r.get(k, 0) for r in report for k in keys) / n

    return {
        "listing.calls": len(listing) / n,
        "listing.objects": listed / n,
        "listing.s": ix.seconds(listing) / n,
        "listing.us_per_object": 1e6 * ix.seconds(listing) / listed,
        "sync.diff_s": ix.seconds(diff) / n,
        "sync.diff_jobs": len(ix.jobs(diff)) / n,
        "sync.copy_actions": action("copy_success", "copy_failed"),
        "sync.skip_actions": action("skip"),
        "sync.delete_actions": action("delete_success", "delete_failed"),
        "executor.s": executor_s / n,
        "executor.jobs": len(ix.jobs(execu)) / n,
        "executor.copies": action("copy_success"),
        "executor.deletes": action("delete_success"),
        "executor.copied_mib": copied_mib / n,
        "executor.mib_per_s": copied_mib / executor_s,
        "executor.failed": action("copy_failed", "delete_failed"),
        "state.load_s": ix.seconds(ix.named("state.load")) / n,
        "state.merge_s": ix.seconds(merge) / n,
        "state.merge_jobs": len(ix.jobs(merge)) / n,
        "state.save_s": ix.seconds(save) / n,
        "state.save_jobs": len(ix.jobs(save)) / n,
        "state.rows": sum(f["objects"] for f in facts) / n,
        "runner.self_s": sum(ix.selfs[i] for i in ticks) / n,
        "runner.jobs": sum(len(ix.own_jobs[i]) for i in ticks) / n,
        "runner.report_s": ix.seconds(ix.named("runner.report")) / n,
        "tick.jobs": len(tick_jobs) / n,
        "tick.stages": t["stages"] / n,
        "tick.tasks": t["tasks"] / n,
    }


def materializations(ix: SpanIndex) -> list[int]:
    return [i for i, s in enumerate(ix.spans) if s.name.startswith("materialize:")]


def materialize_metrics(ix: SpanIndex, n: int) -> dict[str, float]:
    mat = materializations(ix)
    return {
        "tables.materialize_calls": len(mat) / n,
        "tables.materialize_s": ix.seconds(mat) / n,
    }


def registry_metrics(ix: SpanIndex, label_of: dict[str, str], n: int, walls, cold) -> dict[str, float]:
    builds = ix.named("registry.build")
    execs = ix.named("registry.exec")
    mat = set(materializations(ix))
    subs = ix.named("tables.substrate")
    built = [i for i in subs if any(ix.spans[j].parent == i for j in mat)]
    out = {
        "tables.substrate_calls": len(subs) / n,
        "tables.substrate_builds": len(built) / n,
        "tables.substrate_hit_ratio": 1 - len(built) / len(subs) if subs else 0.0,
        "registry.build_s": ix.seconds(builds) / n,
        "registry.exec_s": ix.seconds(execs) / n,
        "registry.cold_build_s": sum(b for b, _ in cold.values()),
        "registry.cold_exec_s": sum(e for _, e in cold.values()),
        "registry.queries": len(execs) / n,
        "registry.query_p50_s": statistics.median(walls),
        "registry.query_max_s": max(walls),
    }
    for layer in OPERATOR_LAYERS:
        idx = [i for i in builds + execs if label_of[ix.spans[i].trace_id] == layer]
        out[f"{layer}.s"] = ix.seconds(idx) / n
        out[f"{layer}.shuffle_mib"] = ix.totals(ix.jobs(idx))["shuffle_write_mib"] / n
    return out
