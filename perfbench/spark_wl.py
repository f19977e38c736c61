"""Spark-plane workload: lakehouse.

It uses the package's session (get_spark) with every setting at its
default; the only extra setting is Spark event logging, and only in a
traced run.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time

from perfbench import common, datagen
from perfbench.catalog_wl import PROJECT, WAREHOUSE, CatalogServer, install_client_tracing
from perfbench.trace import Tracer, maybe_span

CHAIN_OPS = 3
SLICE_ROWS = 2_000
WARMUP_OPS = 1
MAX_WARMUP_ROUNDS = 3


def start_spark(work: str, traced: bool):
    from iceberg_rest_server_spark.catalog.datasource import IcebergRestDataSource
    from iceberg_rest_server_spark.session import get_spark

    extra = None
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
                 "spark.eventLog.compress": "false"}
    spark = get_spark("perfbench", extra_conf=extra)
    spark.dataSource.register(IcebergRestDataSource)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited and been reaped."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


# ------------------------------------------------------------ event log

def spark_event_totals(work: str, epoch0: float, epoch1: float) -> dict:
    """Sum task metrics of the jobs submitted inside [epoch0, epoch1]
    from the Spark event log (complete once the session has stopped)."""
    lo, hi = epoch0 * 1000.0, epoch1 * 1000.0
    totals = {"jobs_per_op": 0, "tasks_per_op": 0, "executor_run_ms_per_op": 0.0,
              "executor_cpu_ms_per_op": 0.0, "gc_ms_per_op": 0.0,
              "shuffle_write_bytes_per_op": 0, "spill_bytes_per_op": 0}
    # Spark 4 may write rolling logs: a directory of event files per app
    for path in glob.glob(os.path.join(work, "eventlog", "**", "events_*"), recursive=True) + \
            glob.glob(os.path.join(work, "eventlog", "local-*")):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", 0) <= hi:
                        totals["jobs_per_op"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if not lo <= info.get("Launch Time", 0) <= hi:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    totals["tasks_per_op"] += 1
                    totals["executor_run_ms_per_op"] += tm.get("Executor Run Time", 0)
                    totals["executor_cpu_ms_per_op"] += tm.get("Executor CPU Time", 0) / 1e6
                    totals["gc_ms_per_op"] += tm.get("JVM GC Time", 0)
                    totals["shuffle_write_bytes_per_op"] += (
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    totals["spill_bytes_per_op"] += (
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0))
    return totals


# ============================================================ lakehouse

class Lakehouse:
    """Chains of CHAIN_OPS ops on fresh tables. One op appends a seeded
    lineitem slice through both write paths of the package, each to its
    own table: the table layer (SparkCatalogTable.append) and the Python
    Data Source (format "iceberg_rest"). It then reads both tables back
    and collects an aggregate. A window runs whole chains, so every run
    sees the same spread of table sizes."""

    def __init__(self, seed: int, work: str, spark, tracer: Tracer | None = None):
        self.seed, self.work, self.spark = seed, work, spark
        self.tracer = tracer
        self.slices = datagen.lineitem_slices(
            os.path.join(work, "slices"), CHAIN_OPS, SLICE_ROWS, seed)
        self.chain_no = 0

    def attach(self, srv: CatalogServer) -> None:
        self.srv = srv
        self.client = srv.client()
        self.client.create_namespace(["lake"])

    def _span(self, layer: str, name: str, rid=None):
        return maybe_span(self.tracer, layer, name, rid)

    def _collect(self, df):
        from pyspark.sql import functions as F

        with self._span("spark", "collect"):
            return df.agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")).collect()[0]

    def chain(self, out: dict, n_ops: int = CHAIN_OPS) -> None:
        from iceberg_rest_server_spark.catalog.spark_table import (
            SparkCatalogTable,
            iceberg_schema_from_spark,
        )

        k, self.chain_no = self.chain_no, self.chain_no + 1
        frames = [self.spark.read.parquet(s["path"]) for s in self.slices[:n_ops]]
        schema = iceberg_schema_from_spark(frames[0].schema)
        self.client.create_table(["lake"], f"table_{k}", schema)
        self.client.create_table(["lake"], f"ds_{k}", schema)
        table = SparkCatalogTable(self.spark, self.client, ["lake"], f"table_{k}")
        opts = {"uri": self.srv.url, "project": PROJECT, "warehouse": WAREHOUSE,
                "namespace": "lake", "table": f"ds_{k}"}
        rows = quantity = 0
        for i, (df, s) in enumerate(zip(frames, self.slices)):
            t0 = time.monotonic()
            try:
                with self._span("generator", "op", rid=f"{k}-{i}"):
                    with self._span("spark_table", "append"):
                        table.append(df)
                    with self._span("datasource", "write"):
                        df.write.format("iceberg_rest").options(**opts).mode("append").save()
                    t1 = time.monotonic()
                    with self._span("spark_table", "read"):
                        read = table.read()
                    got = [self._collect(read)]
                    with self._span("datasource", "read"):
                        read = self.spark.read.format("iceberg_rest").options(**opts).load()
                    got.append(self._collect(read))
                t2 = time.monotonic()
            except Exception as exc:
                out["failed"] += 1
                out["errors"].append(f"chain {k} op {i}: {exc!r}"[:300])
                continue
            rows += s["rows"]
            quantity += s["quantity"]
            for path, g in zip(("table", "datasource"), got):
                out["errors"].extend(check_totals(g["n"], g["q"], rows, quantity,
                                                  f"{path} chain {k} op {i}"))
            out["ingest"].append((t1 - t0) * 1000.0)
            out["read"].append((t2 - t1) * 1000.0)
            out["lat"].append((t2 - t0) * 1000.0)
            if self.tracer is not None:
                out["manifests"].append(newest_manifest_bytes(self.client, f"table_{k}"))

    def window(self, seconds: float) -> dict:
        out = new_out()
        chains = 0
        with common.Window(self.srv.warehouse_dir) as w:
            cpu0 = self.srv.cpu_s()
            deadline = time.monotonic() + seconds
            while chains == 0 or time.monotonic() < deadline:
                self.chain(out)
                chains += 1
            server_cpu = self.srv.cpu_s() - cpu0
        return finish(out, w, server_cpu_s=server_cpu, rss_mb=self.srv.rss_mb(),
                      units=chains, guaranteed=CHAIN_OPS)


def check_totals(n: int, q: float, rows: int, quantity: float, where: str) -> list[str]:
    """The read after an append must see exactly the appended rows."""
    if n != rows or q is None or abs(q - quantity) > 1e-6 * max(1.0, quantity):
        return [f"{where}: read {n} rows / sum {q}, appended {rows} / {quantity}"]
    return []


def newest_manifest_bytes(client, name: str) -> int:
    meta = client.load_table(["lake"], name)["metadata"]
    head = meta["refs"]["main"]["snapshot-id"]
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == head)
    return os.path.getsize(snap["manifest-list"])


def new_out() -> dict:
    return {"lat": [], "ingest": [], "read": [], "errors": [], "failed": 0,
            "manifests": []}


def finish(out: dict, w: common.Window, **extra) -> dict:
    res = {"w": w, "ops": len(out["lat"]), "lat": out["lat"], "failed": out["failed"],
           "errors": out["errors"], "retries": 0, "ingest": out["ingest"],
           "read": out["read"]}
    if out["manifests"]:
        res["manifest_bytes"] = common.median(out["manifests"])
    res.update(extra)
    return res


# ============================================================ runner

def run(args, children: common.Children, work: str):
    traced = bool(args.trace)
    t0 = time.monotonic()
    spark = start_spark(work, traced)
    stop = functools.partial(stop_spark, spark)
    children.finalizers.append(stop)
    info: dict = {"spark_conf": {k: v for k, v in spark.sparkContext.getConf().getAll()
                                 if k.startswith(("spark.master", "spark.driver.memory",
                                                  "spark.sql.shuffle", "spark.eventLog"))}}
    wl = Lakehouse(args.seed, work, spark)
    srv = CatalogServer(children, os.path.join(work, "a"))
    wl.attach(srv)
    # short chains until they stop getting faster: JVM and Python workers warm
    info["warmup_s"] = common.warm_until_steady(lambda: wl.chain(new_out(), WARMUP_OPS),
                                                 MAX_WARMUP_ROUNDS)
    setup_s = time.monotonic() - t0

    from perfbench.run import e2e_metrics, trace_metrics

    if not traced:
        res = wl.window(args.seconds)
        values, record = e2e_metrics(setup_s, res)
        res["info"] = info
        return values, record, res

    # the two windows of a traced run share its --seconds
    untraced = wl.window(args.seconds / 2)
    tracer = Tracer("gen")
    wl.tracer = tracer
    srv.stop()
    install_client_tracing(tracer)
    spans_file = os.path.join(work, "server-spans.json")
    srv = CatalogServer(children, os.path.join(work, "b"), spans_file)
    wl.attach(srv)
    events_dir = os.path.join(srv.warehouse_dir, "_events")
    before = common.count_files(events_dir)
    res = wl.window(args.seconds / 2)
    res["event_files_added"] = common.count_files(events_dir) - before
    spans = tracer.spans + srv.stop()
    children.finalizers.remove(stop)
    stop()  # the event log is complete only once the session has stopped
    totals = spark_event_totals(work, res["w"].epoch0, res["w"].epoch1)
    res["errors"] = untraced["errors"] + res["errors"]
    res["info"] = info
    values, record, _ = trace_metrics(spans, res, untraced, one_op_at_a_time=True,
                                      spark=totals)
    return values, record, res
