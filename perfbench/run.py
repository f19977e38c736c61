"""Benchmark of the catalog plane and the Spark query plane.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: catalog-rest, commit-chain, lakehouse (README.md). With
--trace 0 the run measures the end-to-end metrics untraced. With
--trace 1 it measures one untraced and then one traced window, each
half of --seconds, and reports the per-layer metrics and the tracing
overhead. The full
record is printed first; the last line of stdout is the one-line result.
Exits non-zero when a correctness gate fails.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_ms_p50", "ms"),
    ("op_ms_tail", "ms"),
    ("cpu_ms_per_op", "ms"),
    ("write_bytes_per_op", "B"),
    ("server_rss_mb", "MB"),
]
WORKLOADS = ("catalog-rest", "commit-chain", "lakehouse")


def package_present() -> bool:
    return os.path.isfile(os.path.join(common.ROOT, common.PACKAGE, "catalog", "server.py"))


def configure_env(work: str) -> None:
    """The session the test suite uses: SPARK_GRAFT_CPUS from the cores this
    process may run on. Spark's scratch space goes under the run
    directory so the run writes only inside its checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (common.ROOT, os.environ.get("PYTHONPATH")) if p)


def e2e_metrics(setup_s: float, res: dict) -> tuple[dict, dict]:
    ops, w = res["ops"], res["w"]
    record: dict = {}
    values = {
        "setup_s": setup_s,
        "ops_per_s": ops / w.wall_s,
        **common.latency_metrics("op_ms", res["lat"], record, res.get("guaranteed")),
        "cpu_ms_per_op": w.cpu_s * 1000.0 / ops,
        "write_bytes_per_op": w.bytes_added / ops,
        "server_rss_mb": res["rss_mb"],
    }
    extra = record["extra_metrics"] = {}
    for half in ("ingest", "read"):
        if res.get(half):
            for k, v in common.latency_metrics(f"{half}_ms", res[half], record,
                                              res.get("guaranteed")).items():
                extra[k] = {"value": v, "unit": "ms"}
    record["window"] = window_facts(res)
    return values, record


def window_facts(res: dict) -> dict:
    w = res["w"]
    return {"ops": res["ops"], "wall_s": w.wall_s, "cpu_s": w.cpu_s, "steal_share": w.steal,
            "generator_cpu_share": w.generator_cpu_share, "bytes_added": w.bytes_added,
            "whole_units": res.get("units")}


def run_catalog(cls, args, children: common.Children, work: str):
    from perfbench import catalog_wl

    wl = cls(args.seed, children, work)

    def one_window(spans_file=None, tracer=None):
        srv = wl.setup(spans_file)
        events_dir = os.path.join(srv.warehouse_dir, "_events")
        before = common.count_files(events_dir)
        # the two windows of a traced run share its --seconds
        res = wl.window(srv, args.seconds / 2, tracer)
        res["event_files_added"] = common.count_files(events_dir) - before
        return srv, res

    if not args.trace:
        t0 = time.monotonic()
        srv = wl.setup()
        setup_s = time.monotonic() - t0
        res = wl.window(srv, args.seconds)
        srv.stop()
        values, record = e2e_metrics(setup_s, res)
        return values, record, res

    from perfbench.trace import Tracer

    srv, untraced = one_window()
    srv.stop()
    tracer = Tracer("gen")
    catalog_wl.install_client_tracing(tracer)
    srv, traced = one_window(os.path.join(work, "server-spans.json"), tracer)
    spans = tracer.spans + srv.stop()
    return trace_metrics(spans, traced, untraced, one_op_at_a_time=False)


def trace_metrics(spans, traced, untraced, one_op_at_a_time, spark=None):
    from perfbench import layers

    values, extra = layers.compute(spans, traced, untraced,
                                   one_op_at_a_time=one_op_at_a_time, spark=spark)
    if not extra["self_sum_le_wall"]:
        traced["errors"].append("layer self times sum to more than the op wall time")
    record = {"trace": extra, "window": window_facts(traced),
              "untraced_window": window_facts(untraced)}
    return values, record, traced


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not package_present():
        print(f"perfbench: package {common.PACKAGE!r} not found next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2

    def on_signal(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    work = common.run_dir(args.workload)
    configure_env(work)
    children = common.Children()
    try:
        if args.workload in ("catalog-rest", "commit-chain"):
            from perfbench import catalog_wl

            cls = catalog_wl.CatalogRest if args.workload == "catalog-rest" else catalog_wl.CommitChain
            values, record, res = run_catalog(cls, args, children, work)
        else:
            from perfbench import spark_wl

            values, record, res = spark_wl.run(args, children, work)
    finally:
        try:
            children.stop_all()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(work))

    if args.trace:
        from perfbench.layers import PER_LAYER

        wanted = PER_LAYER
    else:
        wanted = END_TO_END
    metrics = {name: (values[name], unit) for name, unit in wanted}
    errors = res["errors"]
    record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": record.get("trace"),
        "host": common.host_facts(),
        "gate_errors": errors[:20], "gate_error_count": len(errors),
    })
    if res.get("info"):
        record["info"] = res["info"]
    correct = not errors and res["failed"] == 0
    common.emit(correct, res["ops"], res["failed"], metrics, record)
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
