"""Fold one traced unit's spans, SQL plan metrics, stages and /proc
samples into the per-layer metrics named in BENCHMARK.json.

Plan nodes are assigned to layers by node type: FileScan (scan),
ArrowEvalPython (parsing), BroadcastExchange over a LocalTableScan
(enrich), FlatMapGroupsInPandas and the verdict broadcast (routing), the
salted Exchange (skew), Sort and the write command under the staging write
(pipeline), the melt aggregate under the rollup ``toPandas`` (rollup), and
MapInArrow plus every exchange of ``curate_pack`` (curation). Task-summed
times are task-seconds; ``*_share`` divides them by the executor run time
of the stages holding the node.
"""

from __future__ import annotations

import os

from perfbench import trace as T

# per-layer metric -> unit; every traced run emits all of them
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "scan.tasks": "count",
    "scan.files": "count",
    "scan.bytes": "B",
    "scan.time_s": "s",
    "parsing.py_run_s": "s",
    "parsing.py_init_s": "s",
    "parsing.py_start_s": "s",
    "parsing.py_workers_started": "count",
    "parsing.py_workers_peak": "count",
    "parsing.arrow_bytes_to_py": "B",
    "parsing.arrow_bytes_from_py": "B",
    "parsing.rows_per_input_row": "ratio",
    "parsing.py_run_share": "ratio",
    "enrich.broadcasts": "count",
    "enrich.broadcast_bytes": "B",
    "enrich.broadcast_build_s": "s",
    "enrich.broadcast_collect_s": "s",
    "routing.fanout_ratio": "ratio",
    "routing.hook_py_run_s": "s",
    "routing.hook_py_run_share": "ratio",
    "routing.hook_task_skew": "ratio",
    "routing.verdict_broadcast_bytes": "B",
    "skew.shuffle_write_bytes": "B",
    "skew.shuffle_write_s": "s",
    "skew.task_skew": "ratio",
    "pipeline.write_job_s": "s",
    "pipeline.sort_s": "s",
    "pipeline.sort_share": "ratio",
    "pipeline.sort_peak_mem_bytes": "B",
    "pipeline.spill_bytes": "B",
    "pipeline.write_task_skew": "ratio",
    "pipeline.files_written": "count",
    "pipeline.bytes_written": "B",
    "icelite.register_dir_s": "s",
    "icelite.append_pandas_s": "s",
    "icelite.snapshots_s": "s",
    "icelite.manifest_bytes": "B",
    "lineage.commit_s": "s",
    "lineage.read_s": "s",
    "lineage.records": "count",
    "lineage.journal_bytes": "B",
    "rollup.job_s": "s",
    "rollup.files_scanned": "count",
    "streaming.epochs": "count",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.epoch_growth": "ratio",
    "curation.kernel_py_run_s": "s",
    "curation.kernel_py_init_s": "s",
    "curation.kernel_py_run_share": "ratio",
    "curation.shuffle_bytes": "B",
    "curation.single_partition_rows": "count",
    "curation.survivor_ratio": "ratio",
    "spark.executions": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.tasks_failed": "count",
    "driver.unattributed_s": "s",
    "trace.wall_s": "s",
    "trace.rows_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
    "trace.unspanned_s": "s",
    "trace.jobs_outside_spans_s": "s",
    "epoch.count": "count",
    "epoch.tail_pct": "%",
    "failed_share": "ratio",
    "process.peak_rss_mb": "MB",
}


def _sum(execs, pred, metric: str) -> float:
    return sum(n.metrics.get(metric, 0.0) for ex in execs for n in ex.find(pred))


def _stages(execs, pred) -> set[int]:
    return {s for ex in execs for n in ex.find(pred) for s in n.stages}


def _share(part: float, stages: set[int], stage_data, unit_task_s: float) -> float:
    """``part`` over the executor run time of ``stages``. A node that ran as
    a single task carries no stage id in its metrics; it is divided by the
    unit's total task time instead."""
    run = sum(stage_data[s].run_s for s in stages if s in stage_data) or unit_task_s
    return part / run if run > 0 else 0.0


def _skew(execs, pred, stage_data) -> float:
    """Max/median task time over the stages running nodes matching ``pred``:
    1.0 for nodes that ran as a single task, 0.0 when none ran."""
    if not any(ex.find(pred) for ex in execs):
        return 0.0
    stages = _stages(execs, pred)
    return max((stage_data[s].skew for s in stages if s in stage_data), default=1.0)


def _named(name: str):
    return lambda n: n.name == name


def _file_bytes(root: str, filename: str) -> tuple[int, int]:
    """(total bytes, line count) of every ``filename`` below ``root``."""
    size = lines = 0
    for d, _, files in os.walk(root):
        if filename in files:
            path = os.path.join(d, filename)
            size += os.path.getsize(path)
            with open(path, "rb") as f:
                lines += f.read().count(b"\n")
    return size, lines


def fold(
    *, spans, root, execs, jobs, stages, sampler, unit, input_rows, survivor_ratio,
    setup, untraced_rows_per_s,
) -> dict[str, float]:
    starts = [s.end - s.start for s in spans if s.name == "get_spark"]
    spans = _descendants(spans, root)
    T.attribute(execs, spans)
    m: dict[str, float] = {k: 0.0 for k in LAYER_UNITS}
    wall = root.end - root.start
    ran = {s for j in jobs for s in j.stages if s in stages}
    unit_task_s = sum(stages[s].run_s for s in ran)

    m["session.start_s"] = T.median(starts)
    m["session.warmup_s"] = setup[1]

    is_scan = lambda n: n.name.startswith("Scan parquet")  # noqa: E731
    input_execs = [ex for ex in execs if ex.span != "to_pandas"]
    m["scan.files"] = _sum(input_execs, is_scan, "number of files read")
    m["scan.bytes"] = _sum(input_execs, is_scan, "size of files read")
    m["scan.time_s"] = _sum(input_execs, is_scan, "scan time")
    m["scan.tasks"] = sum(stages[s].tasks for s in _stages(input_execs, is_scan) if s in stages)

    arrow = _named("ArrowEvalPython")
    m["parsing.py_run_s"] = _sum(execs, arrow, "time to run Python workers")
    m["parsing.py_init_s"] = _sum(execs, arrow, "time to initialize Python workers")
    m["parsing.py_start_s"] = _sum(execs, arrow, "time to start Python workers")
    m["parsing.arrow_bytes_to_py"] = _sum(execs, arrow, "data sent to Python workers")
    m["parsing.arrow_bytes_from_py"] = _sum(execs, arrow, "data returned from Python workers")
    m["parsing.rows_per_input_row"] = _sum(execs, arrow, "number of output rows") / input_rows
    m["parsing.py_run_share"] = _share(
        m["parsing.py_run_s"], _stages(execs, arrow), stages, unit_task_s
    )
    m["parsing.py_workers_started"] = sampler.started
    m["parsing.py_workers_peak"] = sampler.peak

    for ex in execs:
        for bx in ex.find(_named("BroadcastExchange")):
            below = ex.subtree(bx.nid)
            direct = [ex.nodes[c].name for c in ex.children.get(bx.nid, [])]
            if direct == ["LocalTableScan"]:
                m["enrich.broadcasts"] += 1
                m["enrich.broadcast_bytes"] += bx.metrics.get("data size", 0.0)
                m["enrich.broadcast_build_s"] += bx.metrics.get("time to build", 0.0)
                m["enrich.broadcast_collect_s"] += bx.metrics.get("time to collect", 0.0)
            elif any(n.name == "FlatMapGroupsInPandas" for n in below):
                m["routing.verdict_broadcast_bytes"] += bx.metrics.get("data size", 0.0)

    m["routing.fanout_ratio"] = unit.fanout
    hook = _named("FlatMapGroupsInPandas")
    m["routing.hook_py_run_s"] = _sum(execs, hook, "time to run Python workers")
    m["routing.hook_py_run_share"] = _share(
        m["routing.hook_py_run_s"], _stages(execs, hook), stages, unit_task_s
    )
    m["routing.hook_task_skew"] = _skew(execs, hook, stages)

    salt = lambda n: n.name == "Exchange" and "_salt" in n.desc  # noqa: E731
    salted = [ex for ex in execs if ex.find(salt)]
    m["skew.shuffle_write_bytes"] = _sum(execs, salt, "shuffle bytes written")
    m["skew.shuffle_write_s"] = _sum(execs, salt, "shuffle write time")
    m["skew.task_skew"] = _skew(salted, arrow, stages)

    write_spans = [
        s for s in spans if s.name == "writer_parquet" and _parent(spans, s) == "pipeline_run"
    ]
    staging = [
        ex for ex in execs if ex.span == "writer_parquet" and ex.span_parent == "pipeline_run"
    ]
    sort = _named("Sort")
    write = lambda n: n.name.startswith("Execute InsertIntoHadoopFsRelation")  # noqa: E731
    m["pipeline.write_job_s"] = sum(s.end - s.start for s in write_spans)
    m["pipeline.sort_s"] = _sum(staging, sort, "sort time")
    m["pipeline.sort_share"] = _share(
        m["pipeline.sort_s"], _stages(staging, sort), stages, unit_task_s
    )
    m["pipeline.sort_peak_mem_bytes"] = _sum(staging, sort, "peak memory")
    m["pipeline.spill_bytes"] = _sum(staging, sort, "spill size")
    m["pipeline.write_task_skew"] = _skew(staging, write, stages)
    m["pipeline.files_written"] = _sum(staging, write, "number of written files")
    m["pipeline.bytes_written"] = _sum(staging, write, "written output")

    def span_total(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    m["icelite.register_dir_s"] = span_total("register_dir")
    m["icelite.append_pandas_s"] = span_total("append_pandas")
    m["icelite.snapshots_s"] = span_total("snapshots")
    m["lineage.commit_s"] = span_total("lineage_commit")
    m["lineage.read_s"] = span_total("committed_units")
    if unit.out and os.path.isdir(unit.out):
        m["icelite.manifest_bytes"] = _file_bytes(unit.out, "_manifest.json")[0]
        m["lineage.journal_bytes"], m["lineage.records"] = _file_bytes(unit.out, "_lineage.json")

    rollup_spans = [
        s for s in spans if s.name == "to_pandas" and _parent(spans, s) == "pipeline_run"
    ]
    rollup = [ex for ex in execs if ex.span == "to_pandas" and ex.span_parent == "pipeline_run"]
    m["rollup.job_s"] = sum(s.end - s.start for s in rollup_spans)
    m["rollup.files_scanned"] = _sum(rollup, is_scan, "number of files read")

    if unit.epochs:
        trig = [t for t, _ in unit.epochs]
        add = [a for _, a in unit.epochs]
        half = min(10, len(trig) // 2) or 1
        m["streaming.epochs"] = len(trig)
        m["streaming.add_batch_s"] = T.median(add)
        m["streaming.trigger_overhead_s"] = T.median(t - a for t, a in unit.epochs)
        first = T.median(trig[:half])
        m["streaming.epoch_growth"] = T.median(trig[-half:]) / first if first > 0 else 0.0

    curation = [
        ex for ex in execs
        if ex.span in ("curate_pack", "writer_parquet") and ex.span_parent != "pipeline_run"
    ]
    kernel = lambda n: "MapInArrow" in n.name  # noqa: E731
    m["curation.kernel_py_run_s"] = _sum(curation, kernel, "time to run Python workers")
    m["curation.kernel_py_init_s"] = _sum(curation, kernel, "time to initialize Python workers")
    m["curation.kernel_py_run_share"] = _share(
        m["curation.kernel_py_run_s"], _stages(curation, kernel), stages, unit_task_s
    )
    m["curation.shuffle_bytes"] = _sum(curation, _named("Exchange"), "shuffle bytes written")
    single = lambda n: n.name == "Exchange" and "SinglePartition" in n.desc  # noqa: E731
    m["curation.single_partition_rows"] = _sum(curation, single, "shuffle records written")
    m["curation.survivor_ratio"] = survivor_ratio

    m["spark.executions"] = len(execs)
    m["spark.jobs"] = len(jobs)
    m["spark.tasks"] = sum(stages[s].tasks for s in ran)
    m["spark.task_s"] = unit_task_s
    m["spark.gc_s"] = sum(stages[s].gc_s for s in ran)
    m["spark.tasks_failed"] = sum(stages[s].failed for s in ran)
    # Two clocks: Spark's job intervals (status store, JVM) against the
    # benchmark's spans (driver). Every job should run inside a spanned
    # call; the traced wall outside every job is the driver's own time.
    job_iv = [(max(j.start, root.start), min(j.end, root.end)) for j in jobs if j.end > root.start]
    span_iv = [(s.start, s.end) for s in spans if s is not root]
    m["driver.unattributed_s"] = wall - T.union_s(job_iv)
    m["trace.jobs_outside_spans_s"] = T.union_s(job_iv) - T.union_s(
        (max(a, c), min(b, d)) for a, b in job_iv for c, d in span_iv if a < d and c < b
    )
    m["trace.unspanned_s"] = wall - T.union_s(span_iv)
    m["trace.wall_s"] = wall
    m["trace.rows_per_s"] = unit.rows / unit.wall if unit.wall > 0 else 0.0
    traced = m["trace.rows_per_s"]
    m["trace.overhead_ratio"] = untraced_rows_per_s / traced if traced else 0.0
    return m


def _descendants(spans, root) -> list:
    """``root`` and every span opened below it."""
    keep = {root.sid}
    for s in sorted(spans, key=lambda s: s.start):
        if s.parent in keep:
            keep.add(s.sid)
    return [s for s in spans if s.sid in keep]


def _parent(spans, span) -> str:
    for s in spans:
        if s.sid == span.parent:
            return s.name
    return ""
