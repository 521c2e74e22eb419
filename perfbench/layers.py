"""Per-layer metrics of a traced run, folded from its spans and the Spark
event log. Layer names follow the package's modules; see README.md for
which end-to-end metric each one should move."""

from __future__ import annotations

import statistics

from perfbench.trace import GROUP_PREFIX, union_seconds

#: name -> unit, in report order
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "plan.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.empty_task_ratio": "ratio",
    "exec.core_utilization": "ratio",
    "exec.failed_tasks": "count",
    "runner.run_s": "s",
    "runner.models": "count",
    "runner.checkpoints": "count",
    "runner.jobs": "count",
    "orchestration.partitions": "count",
    "orchestration.assets": "count",
    "orchestration.asset_fn_s": "s",
    "sources.asset_s": "s",
    "sources.requests": "count",
    "sources.failed_requests": "count",
    "warehouse.asset_s": "s",
    "store.writes": "count",
    "store.write_s": "s",
    "store.write_jobs": "count",
    "store.rows_written": "count",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    "store.bytes_per_row": "bytes",
    "store.reads": "count",
    "store.read_s": "s",
    "store.merges": "count",
    "store.merge_s": "s",
    "store.compact_s": "s",
    "store.bytes_rewritten": "bytes",
    "trace.wall_s": "s",
    "trace.spans": "count",
}


def layer_metrics(spans: list[dict], groups: dict, outcome, cores: int) -> dict[str, float]:
    by_id = {s["id"]: s for s in spans if "id" in s}

    def dur(s) -> float:
        return s["end"] - s["start"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def has_ancestor(s, name, include_self=True) -> bool:
        cur = s if include_self else by_id.get(s.get("parent"))
        while cur is not None:
            if cur["name"] == name:
                return True
            cur = by_id.get(cur.get("parent"))
        return False

    def jobs_under(name) -> int:
        total = 0
        for gid, g in groups.items():
            if gid and gid.startswith(GROUP_PREFIX):
                s = by_id.get(int(gid[len(GROUP_PREFIX):]))
                if s is not None and has_ancestor(s, name):
                    total += g["jobs"]
        return total

    # the timed region: every group whose span sits under a workload unit
    timed = [g for gid, g in groups.items() if gid and gid.startswith(GROUP_PREFIX)
             and has_ancestor(by_id[int(gid[len(GROUP_PREFIX):])], "unit")]
    tot = {k: sum(g.get(k, 0) for g in timed) for k in (
        "jobs", "stages", "tasks", "failed_tasks", "task_run_ms", "task_cpu_ns",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "empty_tasks")}
    intervals = [iv for g in timed for iv in g.get("_intervals", [])]
    walls = [u["wall_s"] for u in outcome.units]
    writes = named("store.write")
    transports = named("transport")
    runs = [s for s in named("run_datamart") if not has_ancestor(s, "run_datamart", False)]
    rows_written = sum(s.get("rows", 0) for s in writes)
    bytes_written = sum(s.get("bytes", 0) for s in writes)
    m = {
        "session.start_s": sum(dur(s) for s in named("session.start")),
        "session.warmup_s": sum(dur(s) for s in named("session.warmup")),
        "queries.build_s": sum(dur(s) for s in named("build")),
        "queries.build_jobs": jobs_under("build"),
        "plan.plan_s": sum(dur(s) for s in named("plan")),
        "exec.exec_s": union_seconds(intervals),
        "exec.jobs": tot["jobs"],
        "exec.stages": tot["stages"],
        "exec.tasks": tot["tasks"],
        "exec.task_cpu_s": tot["task_cpu_ns"] / 1e9,
        "exec.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "exec.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "exec.spill_bytes": tot["spill_bytes"],
        "exec.empty_task_ratio": tot["empty_tasks"] / tot["tasks"] if tot["tasks"] else 0.0,
        "exec.core_utilization": tot["task_run_ms"] / 1000.0 / (sum(walls) * cores)
        if walls else 0.0,
        "exec.failed_tasks": tot["failed_tasks"],
        "runner.run_s": sum(dur(s) for s in runs),
        "runner.models": sum(s.get("models", 0) for s in runs),
        "runner.checkpoints": sum(1 for s in named("checkpoint")
                                  if has_ancestor(s, "run_datamart")),
        "runner.jobs": jobs_under("run_datamart"),
        "orchestration.partitions": len(named("run_partition")),
        "orchestration.assets": len(named("asset")),
        "orchestration.asset_fn_s": sum(dur(s) for s in named("asset")),
        "sources.asset_s": sum(o.seconds for o in outcome.ops if o.layer == "sources"),
        "sources.requests": len(transports),
        "sources.failed_requests": sum(1 for s in transports if s.get("failed")),
        "warehouse.asset_s": sum(o.seconds for o in outcome.ops if o.layer == "warehouse"),
        "store.writes": len(writes),
        "store.write_s": sum(dur(s) for s in writes),
        "store.write_jobs": jobs_under("store.write"),
        "store.rows_written": rows_written,
        "store.files_written": sum(s.get("files", 0) for s in writes),
        "store.bytes_written": bytes_written,
        "store.bytes_per_row": bytes_written / rows_written if rows_written else 0.0,
        "store.reads": len(named("store.read")),
        "store.read_s": sum(dur(s) for s in named("store.read")),
        "store.merges": len(named("store.merge")),
        "store.merge_s": sum(dur(s) for s in named("store.merge")),
        "store.compact_s": sum(dur(s) for s in named("store.compact")),
        "store.bytes_rewritten": sum(s.get("bytes", 0) for s in named("store.compact")),
        "trace.wall_s": statistics.median(walls) if walls else 0.0,
        "trace.spans": len(spans),
    }
    return {k: float(m[k]) for k in PER_LAYER}
