"""Per-layer metrics of a traced run, computed from its spans.

Layers are named after the package modules: client, server, store,
metadata, io, events (catalog/*), spark_table, datasource and spark;
plus the generator itself. A metric whose layer a workload
does not exercise reads 0 and is named, with the reason, under
`absent` in the record.
"""

from __future__ import annotations

from perfbench.common import median, tail
from perfbench.trace import adopt_orphans, layer_self_ms, under_root

PER_LAYER = [
    ("client.calls_per_op", "count"),
    ("client.load_table.ms_p50", "ms"),
    ("client.commit_table.ms_p50", "ms"),
    ("client.commit_transaction.ms_p50", "ms"),
    ("client.list_tables.ms_p50", "ms"),
    ("client.retries_per_op", "count"),
    ("server.load_table.ms_p50", "ms"),
    ("server.commit_table.ms_p50", "ms"),
    ("server.http_overhead_ms_p50", "ms"),
    ("server.cpu_ms_per_op", "ms"),
    ("store.load_table.ms_p50", "ms"),
    ("store.commit_transaction.ms_p50", "ms"),
    ("store.commit_transaction.ms_tail", "ms"),
    ("store.conflicts", "count"),
    ("store.commit_useful_ratio", "ratio"),
    ("metadata.apply_ms_per_commit", "ms"),
    ("metadata.build_ms_per_commit", "ms"),
    ("metadata.snapshots_per_commit", "count"),
    ("io.write_metadata_file.ms_p50", "ms"),
    ("io.metadata_bytes_per_commit", "B"),
    ("events.publish_event.ms_p50", "ms"),
    ("events.dropped", "count"),
    ("spark_table.append.ms_p50", "ms"),
    ("spark_table.append.commit_ms_p50", "ms"),
    ("spark_table.append.manifest_bytes", "B"),
    ("spark_table.read.ms_p50", "ms"),
    ("datasource.write.ms_p50", "ms"),
    ("datasource.write.commit_ms_p50", "ms"),
    ("datasource.read.ms_p50", "ms"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.executor_run_ms_per_op", "ms"),
    ("spark.executor_cpu_ms_per_op", "ms"),
    ("spark.gc_ms_per_op", "ms"),
    ("spark.shuffle_write_bytes_per_op", "B"),
    ("spark.spill_bytes_per_op", "B"),
    ("generator.cpu_share", "ratio"),
    ("trace.overhead", "ratio"),
]


def _ms(s: list) -> float:
    return (s[6] - s[5]) * 1000.0


def _p50(values: list[float]) -> float | None:
    return median(values) if values else None


def compute(spans: list[list], traced: dict, untraced: dict, *,
            one_op_at_a_time: bool, spark: dict | None = None) -> tuple[dict, dict]:
    """Returns ({metric: value}, extra record fields)."""
    if one_op_at_a_time:
        adopt_orphans(spans, "server")
    by_id = {s[0]: s for s in spans}
    in_ops = under_root(spans, "generator")
    ops = traced["ops"]
    kids: dict[str, list[list]] = {}
    for s in in_ops:
        if s[1] is not None:
            kids.setdefault(s[1], []).append(s)

    def named(layer: str, name: str | None = None) -> list[list]:
        return [s for s in in_ops if s[3] == layer and (name is None or s[4] == name)]

    def durations(layer: str, name: str) -> list[float]:
        return [_ms(s) for s in named(layer, name)]

    def descendants(s: list, layer: str, name: str | None = None) -> list[list]:
        out, todo = [], list(kids.get(s[0], ()))
        while todo:
            k = todo.pop()
            if k[3] == layer and (name is None or k[4] == name):
                out.append(k)
            todo.extend(kids.get(k[0], ()))
        return out

    def commit_ms(parent_layer: str, parent_name: str, layer: str) -> float | None:
        per = [sum(_ms(k) for k in descendants(s, layer, "commit_table"))
               for s in named(parent_layer, parent_name)]
        return _p50([x for x in per if x > 0])

    m: dict[str, float | None] = {}
    client = named("client")
    m["client.calls_per_op"] = len(client) / ops if client else None
    for call in ("load_table", "commit_table", "commit_transaction", "list_tables"):
        m[f"client.{call}.ms_p50"] = _p50(durations("client", call))
    m["client.retries_per_op"] = traced.get("retries", 0) / ops if client else None

    for route in ("load_table", "commit_table"):
        m[f"server.{route}.ms_p50"] = _p50(durations("server", route))
    overhead = []
    for s in client:
        routes = [k for k in kids.get(s[0], ()) if k[3] == "server"]
        if routes:
            overhead.append(_ms(s) - sum(_ms(k) for k in routes))
    m["server.http_overhead_ms_p50"] = _p50(overhead)
    m["server.cpu_ms_per_op"] = (traced["server_cpu_s"] * 1000.0 / ops
                                 if traced.get("server_cpu_s") is not None else None)

    commits = named("store", "commit_transaction")
    m["store.load_table.ms_p50"] = _p50(durations("store", "load_table"))
    m["store.commit_transaction.ms_p50"] = _p50([_ms(s) for s in commits])
    m["store.commit_transaction.ms_tail"] = (tail([_ms(s) for s in commits])["value"]
                                             if commits else None)
    failed_commits = sum(1 for s in commits if s[7] and "error" in s[7])
    m["store.conflicts"] = failed_commits if commits else None
    m["store.commit_useful_ratio"] = ((len(commits) - failed_commits) / len(commits)
                                      if commits else None)

    n_commits = len(commits)
    builds = named("metadata", "build")
    m["metadata.apply_ms_per_commit"] = (sum(durations("metadata", "apply")) / n_commits
                                         if n_commits else None)
    m["metadata.build_ms_per_commit"] = (sum(_ms(s) for s in builds) / n_commits
                                         if n_commits else None)
    m["metadata.snapshots_per_commit"] = (
        sum(s[7]["snapshots"] for s in builds if s[7] and "snapshots" in s[7]) / len(builds)
        if builds else None)

    writes = named("io", "write_metadata_file")
    m["io.write_metadata_file.ms_p50"] = _p50([_ms(s) for s in writes])
    m["io.metadata_bytes_per_commit"] = (
        sum(s[7]["bytes"] for s in writes if s[7] and "bytes" in s[7]) / len(writes)
        if writes else None)

    publishes = named("events", "publish_event")
    m["events.publish_event.ms_p50"] = _p50([_ms(s) for s in publishes])
    # every publish inside the window, ops or not, should leave one file
    t0, t1 = traced["w"].t0, traced["w"].t1
    published = sum(1 for s in spans if s[3] == "events" and s[4] == "publish_event"
                    and t0 <= s[5] <= t1 and not (s[7] and "error" in s[7]))
    m["events.dropped"] = (published - traced["event_files_added"]
                           if publishes and "event_files_added" in traced else None)

    m["spark_table.append.ms_p50"] = _p50(durations("spark_table", "append"))
    m["spark_table.append.commit_ms_p50"] = commit_ms("spark_table", "append", "client")
    m["spark_table.append.manifest_bytes"] = traced.get("manifest_bytes")
    m["spark_table.read.ms_p50"] = _p50(durations("spark_table", "read"))
    m["datasource.write.ms_p50"] = _p50(durations("datasource", "write"))
    m["datasource.write.commit_ms_p50"] = commit_ms("datasource", "write", "server")
    m["datasource.read.ms_p50"] = _p50(durations("datasource", "read"))

    for key, value in (spark or {}).items():
        m[f"spark.{key}"] = value / ops

    m["generator.cpu_share"] = untraced["w"].generator_cpu_share
    ops_per_s_traced = ops / traced["w"].wall_s
    ops_per_s_untraced = untraced["ops"] / untraced["w"].wall_s
    m["trace.overhead"] = 1.0 - ops_per_s_traced / ops_per_s_untraced

    absent = {name: "layer not exercised by this workload"
              for name, _ in PER_LAYER if m.get(name) is None}
    values = {name: (m.get(name) if m.get(name) is not None else 0.0) for name, _ in PER_LAYER}

    self_ms = layer_self_ms(spans, "generator")
    op_wall_ms = sum(_ms(s) for s in in_ops if s[1] is None or s[1] not in by_id)
    extra = {
        "absent": absent,
        "self_ms_per_op": {k: v / ops for k, v in sorted(self_ms.items())},
        "op_wall_ms_per_op": op_wall_ms / ops,
        "self_sum_le_wall": sum(self_ms.values()) <= op_wall_ms * (1 + 1e-9),
        "spans": len(spans),
        "ops_per_s": {"untraced": ops_per_s_untraced, "traced": ops_per_s_traced},
    }
    return values, extra

