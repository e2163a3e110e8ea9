"""Per-layer metrics of a traced run, named after the package modules
(and Spark subsystems) they attribute time to.

Times and counts are per pass: the median over the run's passes of the
sum over each pass's traced ops. Metrics of a layer the workload does not
use read 0.
"""

from __future__ import annotations

from stats import median, percentile
from tracing import job_union
from workloads import ALL_OPS

MB = 1 << 20
CATALOG_WRITES = ("merge_mor", "merge_cow", "append", "compact")
CATALOG_READS = ("read_mor", "read_cow", "time_travel")


def _jobs(r):
    return r.jobs_build + r.jobs_mat


def per_layer(passes, layer: dict, store: dict | None, cores: int,
              failed_frac: float, commit_pct: int) -> dict:
    traced = [q for q in ([r for r in p if r.traced] for p in passes) if q]
    untraced = [q for q in ([r for r in p if not r.traced] for p in passes) if q]
    recs = [r for p in traced for r in p]

    def per_pass(f) -> float:
        return median([sum(f(r) for r in p) for p in traced])

    def stage_sum(key, jobs=_jobs):
        return lambda r: sum(j[key] for j in jobs(r))

    def named(names, f):
        return lambda r: f(r) if r.name in names else 0.0

    m: dict[str, tuple[float, str]] = {}
    for k in ("layer.session_start_s", "layer.registry_import_s", "layer.warmup_s",
              "layer.inputs_s"):
        m[k] = (layer.get(k, 0.0), "s")

    m["plan.build_s"] = (per_pass(lambda r: r.build_s), "s")
    m["plan.eager_jobs"] = (per_pass(lambda r: len(r.jobs_build)), "count")
    m["driver.nojob_s"] = (per_pass(lambda r: r.total_s - job_union(r)), "s")
    for op in ALL_OPS:
        mine = [r for r in recs if r.name == op]
        m[f"op.{op}.build_s"] = (median([r.build_s for r in mine]), "s")
        m[f"op.{op}.total_s"] = (median([r.total_s for r in mine]), "s")

    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = (per_pass(lambda r: r.catalyst_ms.get(phase, 0.0)), "ms")

    m["exec.jobs"] = (per_pass(lambda r: len(_jobs(r))), "count")
    m["exec.stages"] = (per_pass(stage_sum("count")), "count")
    m["exec.tasks"] = (per_pass(stage_sum("numTasks")), "count")
    mat_run_ms = sum(j["executorRunTime"] for r in recs for j in r.jobs_mat)
    mat_wall = sum(r.end - r.mid for r in recs)
    m["exec.slot_idle_frac"] = (
        1 - mat_run_ms / 1000 / (mat_wall * cores) if mat_wall else 0.0, "ratio")
    m["exec.run_s"] = (per_pass(stage_sum("executorRunTime")) / 1e3, "s")
    m["exec.cpu_s"] = (per_pass(stage_sum("executorCpuTime")) / 1e9, "s")
    m["exec.gc_s"] = (per_pass(stage_sum("jvmGcTime")) / 1e3, "s")
    m["exec.shuffle_read_mb"] = (per_pass(stage_sum("shuffleReadBytes")) / MB, "MB")
    m["exec.shuffle_write_mb"] = (per_pass(stage_sum("shuffleWriteBytes")) / MB, "MB")
    m["exec.spill_mb"] = (per_pass(lambda r: sum(
        j["memoryBytesSpilled"] + j["diskBytesSpilled"] for j in _jobs(r))) / MB, "MB")
    m["exec.failed_tasks"] = (per_pass(stage_sum("numFailedTasks")), "count")
    m["cache.leaked_mb"] = (per_pass(lambda r: r.leaked_bytes) / MB, "MB")
    m["streaming.eager_jobs"] = (
        median([len(r.jobs_build) for r in recs if r.name == "st28"]), "count")

    m["catalog.read_plan_s"] = (per_pass(named(CATALOG_READS, lambda r: r.build_s)), "s")
    m["catalog.meta_s"] = (per_pass(named(
        CATALOG_WRITES, lambda r: r.total_s - job_union(r))), "s")
    m["catalog.write_job_s"] = (per_pass(named(CATALOG_WRITES, job_union)), "s")
    store = store or {}
    for k in ("mor_debt", "log_entries", "data_dirs"):
        m[f"catalog.{k}"] = (store.get(k, 0), "count")
    m["catalog.log_bytes"] = (store.get("log_bytes", 0), "bytes")
    m["ws.commit_s"] = (per_pass(named(("ws_commit",), lambda r: r.total_s)), "s")
    m["ws.read_plan_s"] = (per_pass(named(("ws_read",), lambda r: r.build_s)), "s")
    m["ingest.read_csv_s"] = (per_pass(named(("ingest",), lambda r: r.build_s)), "s")
    m["ingest.write_s"] = (per_pass(named(("ingest",), lambda r: r.total_s - r.build_s)), "s")
    m["floor.duckdb_pass_s"] = (layer.get("floor.duckdb_pass_s", 0.0), "s")

    # the cdc write side, from the run's untraced cycles
    writes = [r for p in untraced for r in p if r.kind == "write"]
    commit_s = [r.total_s for r in writes]
    m["commit_s.p50"] = (percentile(commit_s, 50) if commit_s else 0.0, "s")
    m["commit_s.tail"] = (percentile(commit_s, commit_pct) if commit_s else 0.0, "s")
    m["commit_rows_per_s"] = (
        sum(r.rows for r in writes) / sum(commit_s) if commit_s else 0.0, "1/s")
    m["stored_bytes_per_row"] = (
        store["bytes"] / store["rows"] if store.get("rows") else 0.0, "bytes")

    # Tracing overhead per pass: the sum over ops of the difference of
    # their median traced and untraced latencies, over the ops both kinds
    # of pass ran (cdc's compaction lands on one kind only).
    lat = {True: {}, False: {}}
    for p in passes:
        for r in p:
            lat[r.traced].setdefault(r.name, []).append(r.total_s)
    both = sorted(set(lat[True]) & set(lat[False]))
    traced_pass = sum(median(lat[True][n]) for n in both)
    untraced_pass = sum(median(lat[False][n]) for n in both)
    m["trace.pass_s"] = (traced_pass, "s")
    m["trace.untraced_pass_s"] = (untraced_pass, "s")
    m["trace.overhead_s"] = (traced_pass - untraced_pass, "s")
    m["ops.failed_frac"] = (failed_frac, "ratio")
    return m
