"""The three workloads and the cold, checked op runner they share.

One client runs each workload as a closed loop: it sends the next op only
after the previous one has returned its full result to the driver.

- ``analytics`` and ``curation`` run registered queries: an op is
  ``queries[name](spark, sf_dir)`` (the plan build) followed by
  ``toArrow()`` (the result in the driver), checked against the query's
  DuckDB oracle on the same files.
- ``cdc`` applies seeded change batches through the catalog and ingest
  layers and reads the tables back, checked against a DuckDB replay.

Every op is cold: plan caches are released before it starts, and the
runner fails the op if any cached block is still resident.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

ANALYTICS = [
    "q1_pricing_summary", "q3_top_orders", "q5_revenue_by_nation",
    "q6_forecast_revenue", "q9_product_profit", "q18_large_volume_customers",
    "q21_waiting_supplier", "o3_topk", "j1_inner_join", "w1_rank_orders",
    "ts1_tumbling_agg", "ts3_asof_join", "a20_cohort_retention",
]
CURATION = [
    "dd1_exact_dedup", "dd2_minhash_lsh", "dd6_dup_clusters",
    "dd12_containment_dedup", "tx2_quality_score", "tx8_term_novelty",
    "pp4_cascade_fuzzy", "pp6_production_funnel", "dc1_decontamination",
    "ann1_cosine_topk", "ann3_ivf", "mm6_image_neardup_clusters",
    "g1_pagerank", "st28_stream_neardup_gate",
]
# Set-up warms the JVM (JIT, class loading, Python workers, the scan,
# join, text and vector paths) with registered queries outside both mixes.
# Each measured query is then on its first call in the session, as in a
# notebook cell or one pipeline run. Warming every op of the mixes
# instead costs 15 s (analytics) to 45 s (curation) per run, more than
# the run budget holds.
WARMUP = [
    "q4_priority_late_orders", "j2_left_join", "tx1_token_stats",
    "ann2_lsh_bucketed",
]
CDC_OPS = [
    "ingest", "merge_mor", "read_mor", "merge_cow", "read_cow", "append",
    "ws_commit", "ws_read", "time_travel", "compact",
]
CDC_WRITER = {"A": "merge_mor", "B": "merge_cow", "C": "append",
              "ws_orders": "ws_commit", "ws_lines": "ws_commit"}


def short(name: str) -> str:
    return name.split("_")[0]


ALL_OPS = [short(n) for n in ANALYTICS + CURATION] + CDC_OPS


def _nothing(*_):
    return None


@dataclass
class Op:
    """``build`` returns the plan (or nothing, for a write), ``materialize``
    turns it into the result, ``check`` returns None when the result is
    right and a message otherwise."""

    name: str
    kind: str  # "read" or "write"
    materialize: Callable[[object], object]
    build: Callable[[], object] = _nothing
    check: Callable[[object], str | None] = _nothing
    rows: int = 0  # source rows a write commits


@dataclass
class OpRecord:
    name: str
    kind: str
    pass_no: int
    traced: bool
    build_s: float = 0.0
    total_s: float = 0.0
    start: float = 0.0  # epoch seconds
    mid: float = 0.0
    end: float = 0.0
    rows: int = 0
    error: str | None = None
    leaked_bytes: int = 0
    jobs_build: list = field(default_factory=list)
    jobs_mat: list = field(default_factory=list)
    catalyst_ms: dict = field(default_factory=dict)


class Runner:
    """Runs ops cold, times them, checks them, and (when traced) reads
    what Spark recorded for them."""

    def __init__(self, spark, workload: str, tracer=None):
        import bench

        self.spark, self.workload, self.tracer = spark, workload, tracer
        self._resident = bench.cached_storage_bytes
        self.records: list[OpRecord] = []

    @staticmethod
    def _release(spark) -> None:
        from apache_iceberg_spark.session import release_plan_caches

        release_plan_caches(spark)
        # RDDs an op persisted outside the SQL cache manager
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def cold(self) -> int:
        """Release every cache and return the bytes still resident after
        waiting up to a second for asynchronous block removal."""
        self._release(self.spark)
        for _ in range(50):
            left = self._resident(self.spark)
            if left == 0:
                return 0
            time.sleep(0.02)
        return left

    def run(self, op: Op, pass_no: int, traced: bool) -> OpRecord:
        rec = OpRecord(op.name, op.kind, pass_no, traced, rows=op.rows)
        resident = self.cold()
        # job group <workload>:<op>:<phase>#<invocation>, unique per run
        group = f"{self.workload}:{op.name}:" if traced else None
        tag = f"#{len(self.records)}"
        plan = out = None
        t0, w0 = time.perf_counter(), time.time()
        t1, w1 = t0, w0
        try:
            if traced:
                self.tracer.set_group(group + "build" + tag)
            plan = op.build()
            t1, w1 = time.perf_counter(), time.time()
            if traced:
                self.tracer.set_group(group + "materialize" + tag)
            out = op.materialize(plan)
        except Exception as e:  # an op that raises is a counted failure
            rec.error = f"{type(e).__name__}: {str(e)[:300]}"
        t2, w2 = time.perf_counter(), time.time()
        if traced:
            self.tracer.set_group(None)
        rec.build_s, rec.total_s = t1 - t0, t2 - t0
        rec.start, rec.mid, rec.end = w0, w1, w2
        rec.leaked_bytes = max(self._resident(self.spark), 0)
        if resident:
            rec.error = rec.error or f"cold protocol: {resident} bytes resident at start"
        if traced:
            rec.jobs_build = self.tracer.jobs(group + "build" + tag)
            rec.jobs_mat = self.tracer.jobs(group + "materialize" + tag)
            if hasattr(plan, "_jdf"):
                rec.catalyst_ms = self.tracer.catalyst_ms(plan)
        if rec.error is None:
            try:
                msg = op.check(out)
            except Exception as e:
                msg = f"check raised {type(e).__name__}: {e}"
            if msg:
                rec.error = f"wrong result: {msg}"
        self.records.append(rec)
        return rec


def measure(runner: Runner, ops_for_pass, seconds: float, min_passes: int,
            trace: bool, repeatable: bool) -> list[list[OpRecord]]:
    """Run whole passes until ``seconds`` have elapsed and at least
    ``min_passes`` are done.

    A traced run measures its own tracing overhead: ``repeatable`` ops
    (queries) run twice in each pass, untraced and traced, in an order
    that alternates from op to op; stateful ops (cdc) alternate traced
    and untraced passes instead, starting traced."""
    passes: list[list[OpRecord]] = []
    t0 = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
        k = len(passes)
        recs = []
        for i, op in enumerate(ops_for_pass(k)):
            if not trace:
                modes = (False,)
            elif repeatable:
                modes = (False, True) if (i + k) % 2 == 0 else (True, False)
            else:
                modes = (k % 2 == 0,)
            recs.extend(runner.run(op, k, traced) for traced in modes)
        passes.append(recs)
    return passes


# ---------------------------------------------------------------------------
# analytics and curation
# ---------------------------------------------------------------------------

def query_ops(spark, queries, names, sf_dir, cc, expected) -> list[Op]:
    """Registered queries as ops; ``expected`` maps name -> (rows, digest)
    of its oracle, or is empty for unchecked warm-up ops."""
    from check import arrow_digest

    def make(name):
        def check(tbl):
            if not expected:
                return None
            got = arrow_digest(cc, tbl)
            want = expected[name]
            return None if got == want else f"{got} != oracle {want}"

        return Op(short(name), "read", build=lambda: queries[name](spark, sf_dir),
                  materialize=lambda df: df.toArrow(), check=check)

    return [make(n) for n in names]


# ---------------------------------------------------------------------------
# cdc
# ---------------------------------------------------------------------------

class Cdc:
    """The ``cdc`` tables and the seeded stream applied to them.

    Tables A (merge-on-read), B (copy-on-write) and C (append-only) start
    as the base orders table; workspace W starts empty and receives each
    batch's orders plus the new keys' lineitem rows."""

    def __init__(self, spark, root: str, n_base: int, batch_rows: int, seed: int):
        import pyarrow.parquet as pq

        import datagen
        from apache_iceberg_spark.catalog.snapshots import commit_snapshot
        from check import Replay

        self.spark, self.root = spark, root
        os.makedirs(root, exist_ok=True)
        base = datagen.cdc_base(n_base, seed)
        base_path = os.path.join(root, "base.parquet")
        pq.write_table(base, base_path)
        self.replay = Replay(base)
        self.base_fp = self.replay.expect("base")
        self.batches = datagen.cdc_batches(n_base, batch_rows, seed)
        self.tables = {t: os.path.join(root, t) for t in ("A", "B", "C")}
        self.ws = os.path.join(root, "W")
        base_df = spark.read.parquet(base_path)
        for path in self.tables.values():
            commit_snapshot(base_df, path)
        self.cycle = 0

    def next_cycle(self, compact: bool) -> list[Op]:
        """Generate the next batch (untimed) and return the cycle's ops."""
        import pyarrow.csv as pcsv
        import pyarrow.parquet as pq
        import pyspark.sql.functions as F

        from apache_iceberg_spark.catalog import snapshots as snap
        from apache_iceberg_spark.catalog import workspace as ws
        from apache_iceberg_spark.ingest import loader

        spark, rp = self.spark, self.replay
        batch = next(self.batches)
        self.cycle += 1
        k = self.cycle
        rp.add(batch)
        csv_path = os.path.join(self.root, f"batch{k}.csv")
        lines_path = os.path.join(self.root, f"lines{k}.parquet")
        pcsv.write_csv(batch.orders, csv_path)
        pq.write_table(batch.lines, lines_path)
        schema = batch.orders.schema
        n_new = sum(1 for key in batch.orders.column("o_orderkey").to_pylist()
                    if key >= batch.first_new_key)
        A, B, C = self.tables["A"], self.tables["B"], self.tables["C"]

        def source():
            df = spark.table("bench.cdc_batch")
            return df.select(*[
                F.col(f.name).cast(_spark_type(f.type)).alias(f.name) for f in schema
            ])

        def same(want):
            return lambda tbl: None if rp.actual(tbl) == want() else (
                f"{rp.actual(tbl)} != replay {want()}"
            )

        def read(plan):
            return plan.toArrow()

        # Writes are checked through the reads that follow them and, at
        # the end of the run, through every table's head (final_heads).
        n = batch.orders.num_rows
        ops = [
            Op("ingest", "write", build=lambda: loader.read_csv(spark, csv_path),
               materialize=lambda df: loader.create_or_replace_table(
                   spark, df, "bench", "cdc_batch"), rows=n),
            Op("merge_mor", "write", rows=n, materialize=lambda _: snap.merge_into(
                spark, A, source(), on=["o_orderkey"], strategy="mor")),
            Op("read_mor", "read", build=lambda: snap.read_ref(spark, A, "main"),
               materialize=read, check=same(lambda: rp.expect(rp.upserted(k)))),
            Op("merge_cow", "write", rows=n, materialize=lambda _: snap.merge_into(
                spark, B, source(), on=["o_orderkey"], strategy="cow")),
            Op("read_cow", "read", build=lambda: snap.read_ref(spark, B, "main"),
               materialize=read, check=same(lambda: rp.expect(rp.upserted(k)))),
            Op("append", "write", rows=n_new, materialize=lambda _: snap.commit_append(
                source().where(F.col("o_orderkey") >= batch.first_new_key), C)),
            Op("ws_commit", "write", rows=n + batch.lines.num_rows,
               materialize=lambda _: ws.ws_commit(self.ws, {
                   "orders": source(), "lineitem": spark.read.parquet(lines_path)})),
            Op("ws_read", "read", build=lambda: ws.ws_read(spark, self.ws, "orders"),
               materialize=read, check=same(lambda: rp.expect(rp.ws_orders(k)))),
            Op("time_travel", "read",
               build=lambda: snap.read_snapshot_dirs(spark, A, version=1),
               materialize=read, check=same(lambda: self.base_fp)),
        ]
        if compact:
            ops.append(Op("compact", "write",
                          materialize=lambda _: snap.compact_mor(spark, A)))
        return ops

    def final_heads(self) -> dict[str, str]:
        """Untimed check of every table's head against the replay after
        the last batch; returns table -> mismatch message."""
        from apache_iceberg_spark.catalog import snapshots as snap
        from apache_iceberg_spark.catalog import workspace as ws

        rp, k, bad = self.replay, self.cycle, {}
        heads = {
            "A": (snap.read_ref(self.spark, self.tables["A"], "main"), rp.upserted(k)),
            "B": (snap.read_ref(self.spark, self.tables["B"], "main"), rp.upserted(k)),
            "C": (snap.read_ref(self.spark, self.tables["C"], "main"), rp.appended(k)),
        }
        if k:
            heads["ws_orders"] = (ws.ws_read(self.spark, self.ws, "orders"), rp.ws_orders(k))
            heads["ws_lines"] = (ws.ws_read(self.spark, self.ws, "lineitem"), rp.ws_lines(k))
        for name, (df, want) in heads.items():
            got, exp = rp.actual(df.toArrow()), rp.expect(want)
            if got != exp:
                bad[name] = f"head {got} != replay {exp}"
        return bad

    def storage(self) -> dict[str, float]:
        """On-disk footprint of A, B and C: bytes, live rows (checked equal
        to the replay's by ``final_heads``), log entries, log bytes (files
        beside the data directories) and data dirs."""
        from apache_iceberg_spark.catalog import snapshots as snap

        rp, k = self.replay, self.cycle
        live = sum(rp.expect(rel)[0] for rel in (rp.upserted(k), rp.upserted(k), rp.appended(k)))
        out = {"bytes": 0, "rows": live, "log_entries": 0, "log_bytes": 0,
               "data_dirs": 0, "mor_debt": snap.mor_debt(self.tables["A"])}
        for path in self.tables.values():
            for dirpath, dirs, files in os.walk(path):
                out["bytes"] += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
                if dirpath == path:
                    out["log_bytes"] += sum(
                        os.path.getsize(os.path.join(path, f)) for f in files)
                    out["data_dirs"] += len(dirs)
            out["log_entries"] += len(snap.list_snapshots(path))
        return out

    def close(self) -> None:
        self.replay.close()


def _spark_type(t) -> str:
    import pyarrow as pa

    return {pa.int64(): "bigint", pa.int32(): "int", pa.float64(): "double",
            pa.string(): "string"}[t]
