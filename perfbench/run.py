"""Cold, oracle-checked lakehouse benchmark.

    python3 perfbench/run.py --workload analytics|curation|cdc \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench/`` in the checkout, starts ``local[nproc]``,
warms up, then runs whole passes of the workload's op mix until
``--seconds`` have elapsed (and at least the workload's minimum number of
passes are done). Every op is cold and its result is checked.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it labels the
run (seed, host, versions, fixture digest, failing ops). See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NPROC = len(os.sched_getaffinity(0))

# scale factor of the generated query fixtures (lineitem ~60k rows)
SF = 0.01
# cdc: base table rows, change-batch rows, cycles between compactions
CDC_BASE, CDC_BATCH, CDC_COMPACT_EVERY = 150_000, 10_000, 4
DRIVER_MEMORY = "2g"
# whole passes every run completes; they fix the sample counts below
MIN_PASSES = {"analytics": 1, "curation": 1, "cdc": CDC_COMPACT_EVERY - 1}


def tail_percentile(passes, kind: str, workload: str) -> int:
    """The tail percentile for ``kind`` ops: fixed per workload by the
    untraced samples its minimum passes always hold."""
    from stats import tail_pct

    return tail_pct(sum(1 for p in passes[:MIN_PASSES[workload]]
                        for r in p if r.kind == kind and not r.traced))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["analytics", "curation", "cdc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_setup = time.perf_counter()
    load_before = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Everything the run and the JVM write stays inside the checkout.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # A fixed driver heap: with the 8g default the JVM's resident peak
    # follows G1's heap sizing from run to run rather than the workload.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path[:0] = [HERE, ROOT]
    try:
        return _run(args, work, t_setup, load_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, t_setup: float, load_before: float) -> int:
    import duckdb
    import pyspark

    import bench
    import check
    import datagen
    import workloads as wl
    from tracing import Tracer, write_spans

    cc = check.load_check_correctness(ROOT)
    layer: dict[str, float] = {}
    seed, name = args.seed, args.workload

    t = time.perf_counter()
    fixtures = os.path.join(work, "sf")
    if name != "cdc":
        names = wl.ANALYTICS if name == "analytics" else wl.CURATION
        datagen.write_fixtures(fixtures, SF, seed)
    layer["layer.inputs_s"] = time.perf_counter() - t

    t = time.perf_counter()
    from apache_iceberg_spark.registry import all_oracles, all_queries

    queries = all_queries()
    layer["layer.registry_import_s"] = time.perf_counter() - t

    # The oracles run in DuckDB while the JVM starts; neither waits on
    # the other, and the run is ~5 s shorter.
    oracle: dict = {}
    oracle_thread = None
    if name != "cdc":
        sqls = {n: all_oracles()[n] for n in names}
        oracle_thread = threading.Thread(target=lambda: oracle.update(
            check.oracle_digests(cc, fixtures, datagen.TABLES, sqls)))
        oracle_thread.start()

    t = time.perf_counter()
    from apache_iceberg_spark.session import get_spark

    spark = get_spark(
        f"perfbench-{name}", cpus=NPROC, warehouse=os.path.join(work, "warehouse"),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    jvm = spark.sparkContext._gateway.proc
    layer["layer.session_start_s"] = time.perf_counter() - t
    if oracle_thread is not None:
        oracle_thread.join()
        if len(oracle) != len(names):
            raise RuntimeError("oracle digests failed")
        layer["floor.duckdb_pass_s"] = sum(s for _, s in oracle.values())

    tracer = Tracer(spark) if args.trace else None
    runner = wl.Runner(spark, name, tracer)
    t = time.perf_counter()
    if name == "cdc":
        cdc = wl.Cdc(spark, os.path.join(work, "cdc"), CDC_BASE, CDC_BATCH, seed)
        fixtures = cdc.root
        # warm-up: the first cycle, compaction included, is not measured
        for op in cdc.next_cycle(compact=True):
            runner.run(op, -1, False)

        def ops_for_pass(k):
            return cdc.next_cycle(compact=(cdc.cycle + 1) % CDC_COMPACT_EVERY == 0)
    else:
        for op in wl.query_ops(spark, queries, wl.WARMUP, fixtures, cc, {}):
            runner.run(op, -1, False)
        expected = {n: d for n, (d, _) in oracle.items()}
        ops = wl.query_ops(spark, queries, names, fixtures, cc, expected)

        def ops_for_pass(k):
            return ops
    runner.records.clear()  # warm-up results are not measured or checked
    layer["layer.warmup_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - t_setup

    passes = wl.measure(runner, ops_for_pass, args.seconds, MIN_PASSES[name],
                        bool(args.trace), repeatable=name != "cdc")

    store = None
    if name == "cdc":
        for table, msg in cdc.final_heads().items():
            last = [r for r in runner.records if r.name == wl.CDC_WRITER[table]][-1]
            last.error = last.error or f"wrong result: table {table} {msg}"
        store = cdc.storage()
        cdc.close()
    failures: dict[str, list[str]] = {}
    for rec in runner.records:
        if rec.error:
            failures.setdefault(rec.name, []).append(rec.error)

    rss_kb = {"jvm": _vm_hwm_kb(jvm.pid),
              "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss}
    peak_rss_mb = sum(rss_kb.values()) / 1024
    fp = bench.fixture_fingerprints(fixtures)
    os.environ["SPARK_GRAFT_SF_DIR"] = fixtures
    host = bench.host_conditions()
    if args.trace:
        write_spans(os.path.join(ROOT, ".perfbench", f"trace-{name}-{seed}.json"),
                    runner.records)
    _stop(spark, jvm)
    if args.trace and name != "cdc":
        # the DuckDB floor again, on a quiet host: in set-up it shared the
        # CPUs with the JVM start
        layer["floor.duckdb_pass_s"] = sum(
            s for _, s in check.oracle_digests(cc, fixtures, datagen.TABLES, sqls).values())

    attempted = len(runner.records)
    failed = sum(1 for r in runner.records if r.error)
    read_pct = tail_percentile(passes, "read", name)
    commit_pct = tail_percentile(passes, "write", name)
    if args.trace:
        from layers import per_layer

        metrics = per_layer(passes, layer, store, NPROC, failed / attempted, commit_pct)
    else:
        metrics = end_to_end(passes, setup_s, peak_rss_mb, read_pct)
    label = {
        "workload": name, "seed": seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": NPROC, "load1_before": load_before, "load1_after": os.getloadavg()[0],
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "fixture_md5": hashlib.md5(json.dumps(fp, sort_keys=True).encode()).hexdigest(),
        "host": host, "peak_rss_kb": rss_kb, "passes": len(passes), "samples": _samples(passes),
        "read_tail_pct": read_pct, "commit_tail_pct": commit_pct,
        "op_s": _op_medians(runner.records),
        "failures": {k: v[:3] for k, v in failures.items()},
    }
    print(json.dumps({"label": label}), flush=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def end_to_end(passes, setup_s: float, peak_rss_mb: float, read_pct: int) -> dict:
    from stats import median, percentile

    reads = [r.total_s for p in passes for r in p if r.kind == "read"]
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (median([sum(r.total_s for r in p) for p in passes]), "s"),
        "read_s.p50": (percentile(reads, 50), "s"),
        "read_s.tail": (percentile(reads, read_pct), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def _op_medians(records) -> dict[str, float]:
    from stats import median

    by: dict[str, list[float]] = {}
    for r in records:
        if not r.traced:
            by.setdefault(r.name, []).append(r.total_s)
    return {k: round(median(v), 4) for k, v in by.items()}


def _samples(passes) -> dict[str, int]:
    out: dict[str, int] = {}
    for p in passes:
        for r in p:
            out[r.kind] = out.get(r.kind, 0) + 1
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop(spark, jvm) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    try:
        jvm.stdin.close()
    except (AttributeError, OSError):
        pass
    try:
        jvm.wait(timeout=30)
    except Exception:
        jvm.kill()
        jvm.wait(timeout=10)


if __name__ == "__main__":
    raise SystemExit(main())
