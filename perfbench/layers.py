"""Per-layer metrics of one traced call, from the Spark event log and the
Python-side spans. Each workload's record in ``workloads.py`` checks
these metrics for the layer work it was chosen for.

Layers are the engine's modules. Jobs are attributed by the action verb
and source file of their call site (never the line number):

- ``first`` in ``tree.py``: the prologue scan (``tree._prologue_scan``,
  shared by the fractional trainer);
- ``localCheckpoint`` without a call site: eager materializations, which
  run while a DataFrame is still being built;
- ``toPandas`` in ``tree.py``: a level on the driver-stats path;
- ``collect`` in ``tree.py``: a level on the distributed path, or the
  terminal histogram-only level. A distributed level is one that built
  ``c45_stats.node_info`` since the previous level action;
- any action in ``fractional.py``: the fractional level loop;
- ``save``: the scoring sink (``DataFrameWriter.save``).
"""

from __future__ import annotations

import statistics

import eventlog as EL
from spans import C45_PLAN_FUNCTIONS, Tracer

#: (name, unit, better, layer, what it moves on which workload)
PER_LAYER = [
    ("session.start_s", "s", "lower", "session",
     "setup_s on every workload (cold JVM launch + first session)"),
    ("process.peak_rss_mb", "MB", "lower", "process",
     "memory of the run: VmHWM of Python plus its JVM child"),
    ("sources.scan_s", "s", "lower", "sources",
     "rows_per_s on score; a small share on train_wide"),
    ("sources.input_bytes", "bytes", "lower", "sources", "input size"),
    ("sources.rows", "count", "higher", "sources", "input size"),
    ("tree.prologue_s", "s", "lower", "tree.prologue",
     "wall_s_p50 on train_narrow and train_wide"),
    ("tree.prologue_cpu_s", "s", "lower", "tree.prologue",
     "wall_s_p50 on train_narrow and train_wide"),
    ("tree.materialize_s", "s", "lower", "tree.materialize",
     "wall_s_p50 and peak_rss_mb on train_narrow"),
    ("tree.materialize_jobs", "count", "lower", "tree.materialize",
     "wall_s_p50 and peak_rss_mb on train_narrow"),
    ("tree.levels", "count", "lower", "tree.levels",
     "wall_s_p50 on train_narrow; nothing on score"),
    ("tree.level_driver_path", "count", "lower", "tree.levels",
     "wall_s_p50 on train_narrow; nothing on score"),
    ("tree.level_distributed_path", "count", "lower", "tree.levels",
     "wall_s_p50 on train_narrow; nothing on score"),
    ("tree.level_action_s", "s", "lower", "tree.levels",
     "wall_s_p50 on train_narrow; nothing on score"),
    ("tree.driver_s", "s", "lower", "tree.levels",
     "wall_s_p50 on train_narrow; nothing on score"),
    ("tree.contingency_rows", "count", "lower", "tree.levels",
     "wall_s_p50 on train_narrow; nothing on score"),
    ("tree.split_ratio", "ratio", "higher", "tree.levels",
     "wall_s_p50 on train_narrow; nothing on score"),
    ("c45_stats.level_s", "s", "lower", "c45_stats",
     "wall_s_p50 on train_wide; about zero on train_narrow"),
    ("c45_stats.stages", "count", "lower", "c45_stats",
     "wall_s_p50 on train_wide; about zero on train_narrow"),
    ("c45_stats.shuffle_bytes", "bytes", "lower", "c45_stats",
     "wall_s_p50 on train_wide; about zero on train_narrow"),
    ("c45_stats.build_s", "s", "lower", "c45_stats",
     "wall_s_p50 on train_wide; about zero on train_narrow"),
    ("fractional.level_s", "s", "lower", "fractional",
     "wall_s_p50 on train_fractional only"),
    ("fractional.driver_s", "s", "lower", "fractional",
     "wall_s_p50 on train_fractional only"),
    ("fractional.jobs", "count", "lower", "fractional",
     "wall_s_p50 on train_fractional only"),
    ("fractional.shuffle_bytes", "bytes", "lower", "fractional",
     "wall_s_p50 on train_fractional only"),
    ("pruning.ebp_s", "s", "lower", "pruning",
     "wall_s_p50 on train_narrow"),
    ("pruning.jobs", "count", "lower", "pruning",
     "wall_s_p50 on train_narrow (expected 0)"),
    ("predict.compile_s", "s", "lower", "predict", "rows_per_s on score"),
    ("predict.job_s", "s", "lower", "predict", "rows_per_s on score"),
    ("predict.cpu_s", "s", "lower", "predict", "rows_per_s on score"),
    ("spark.jobs", "count", "lower", "spark", "wall_s_p50 on every workload"),
    ("spark.stages", "count", "lower", "spark", "wall_s_p50 on every workload"),
    ("spark.tasks", "count", "lower", "spark", "wall_s_p50 on every workload"),
    ("spark.executor_run_s", "s", "lower", "spark",
     "wall_s_p50 on every workload"),
    ("spark.executor_cpu_s", "s", "lower", "spark",
     "wall_s_p50 on every workload"),
    ("spark.gc_s", "s", "lower", "spark",
     "wall_s_p50 and peak_rss_mb on every workload"),
    ("spark.scheduler_delay_s", "s", "lower", "spark",
     "wall_s_p50 on every workload"),
    ("spark.shuffle_read_bytes", "bytes", "lower", "spark",
     "wall_s_p50 on every workload"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "spark",
     "wall_s_p50 on every workload"),
    ("spark.spill_bytes", "bytes", "lower", "spark",
     "wall_s_p50 and peak_rss_mb on every workload"),
    ("spark.failed_tasks", "count", "lower", "spark",
     "wall_s_p50 on every workload"),
    ("trace.overhead_ratio", "ratio", "lower", "trace",
     "traced over untraced call wall, per workload"),
]

def _s(ms: float) -> float:
    return ms / 1000.0


def _within(ms: int, intervals) -> bool:
    return any(a <= ms <= b for a, b in intervals)


def call_metrics(
    log: EL.EventLog,
    jobs: list[EL.Job],
    tracer: Tracer,
    window_ms: tuple[float, float],
) -> dict[str, float]:
    """Layer metrics of one call, plus its wall ``call_s``: ``jobs`` are
    the call's jobs, the tracer holds its spans, ``window_ms`` its
    wall-clock window."""
    t0, t1 = window_ms

    def union(js) -> int:
        return EL.union_ms(EL.job_interval(j) for j in js)

    # actions: jobs grouped by SQL execution, bounded by its start/end
    actions: dict[int, list[EL.Job]] = {}
    for j in jobs:
        key = j.execution_id if j.execution_id is not None else -j.job_id - 1
        actions.setdefault(key, []).append(j)

    def span(key: int, js) -> tuple[int, int]:
        if key in log.executions:
            return tuple(log.executions[key])
        return min(j.submit_ms for j in js), max(EL.job_interval(j)[1] for j in js)

    level_actions = sorted(
        (span(k, js), js[0].verb, js)
        for k, js in actions.items()
        if js[0].source == "tree.py" and js[0].verb in ("toPandas", "collect")
    )
    node_info_starts = [s * 1000 for s, _ in tracer.intervals("c45_stats.node_info")]
    distributed, prev_start = [], t0
    for (a_start, a_end), verb, js in level_actions:
        if verb == "collect" and any(prev_start <= s <= a_start for s in node_info_starts):
            distributed.append(((a_start, a_end), js))
        prev_start = a_start
    dist_jobs = [j for _, js in distributed for j in js]

    prologue = [j for j in jobs if j.verb == "first" and j.source == "tree.py"]
    materialize = [j for j in jobs
                   if not j.call_site and j.verb == "localCheckpoint"]
    frac = [j for j in jobs if j.source == "fractional.py"]
    frac_actions = [span(k, js) for k, js in actions.items()
                    if js[0].source == "fractional.py"]
    predict = [j for j in jobs if j.verb == "save"]

    def ms(span_name: str):
        return [(a * 1000, b * 1000) for a, b in tracer.intervals(span_name)]

    def driver_ms(intervals) -> float:
        """Time inside the spans that no job of the call covers."""
        inside = [j for j in jobs if _within(j.submit_ms, intervals)]
        return max(0.0, sum(b - a for a, b in intervals) - union(inside))

    pruning_iv = ms("pruning.ebp")

    totals = EL.stage_totals(log, jobs)
    nodes = tracer.counts.get("nodes_evaluated", 0)
    m = {
        # the call's wall, for the workloads' layer-share checks
        "call_s": _s(t1 - t0),
        "tree.prologue_s": _s(union(prologue)),
        "tree.prologue_cpu_s": EL.stage_totals(log, prologue).cpu_ns / 1e9,
        "tree.materialize_s": _s(union(materialize)),
        "tree.materialize_jobs": len(materialize),
        "tree.levels": len(level_actions),
        "tree.level_driver_path": sum(v == "toPandas" for _, v, _ in level_actions),
        "tree.level_distributed_path": sum(v == "collect" for _, v, _ in level_actions),
        "tree.level_action_s": _s(EL.union_ms(s for s, _, _ in level_actions)),
        "tree.driver_s": _s(driver_ms(ms("tree.train"))),
        "tree.contingency_rows": tracer.counts.get("contingency_rows", 0),
        "tree.split_ratio": tracer.counts.get("nodes_split", 0) / nodes if nodes else 0.0,
        "c45_stats.level_s": _s(EL.union_ms(s for s, _ in distributed)),
        "c45_stats.stages": EL.stage_count(log, dist_jobs),
        "c45_stats.shuffle_bytes": EL.stage_totals(log, dist_jobs).shuffle_write_bytes,
        "c45_stats.build_s": sum(tracer.total(f"c45_stats.{f}")
                                 for f in C45_PLAN_FUNCTIONS),
        "fractional.level_s": _s(EL.union_ms(frac_actions)),
        "fractional.driver_s": _s(driver_ms(ms("fractional.train"))),
        "fractional.jobs": len(frac),
        "fractional.shuffle_bytes": EL.stage_totals(log, frac).shuffle_write_bytes,
        "pruning.ebp_s": tracer.total("pruning.ebp"),
        "pruning.jobs": sum(_within(j.submit_ms, pruning_iv) for j in jobs),
        "predict.compile_s": tracer.total("predict.compile"),
        "predict.job_s": _s(union(predict)),
        "predict.cpu_s": EL.stage_totals(log, predict).cpu_ns / 1e9,
        "spark.jobs": len(jobs),
        "spark.stages": EL.stage_count(log, jobs),
        "spark.tasks": totals.tasks,
        "spark.executor_run_s": _s(totals.run_ms),
        "spark.executor_cpu_s": totals.cpu_ns / 1e9,
        "spark.gc_s": _s(totals.gc_ms),
        "spark.scheduler_delay_s": _s(totals.scheduler_delay_ms),
        "spark.shuffle_read_bytes": totals.shuffle_read_bytes,
        "spark.shuffle_write_bytes": totals.shuffle_write_bytes,
        "spark.spill_bytes": totals.spill_bytes,
        "spark.failed_tasks": totals.failed_tasks,
    }
    return {k: float(v) for k, v in m.items()}


def median_metrics(per_call: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(c[k] for c in per_call) for k in per_call[0]}
