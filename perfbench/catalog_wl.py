"""Catalog-plane workloads: catalog-rest and commit-chain.

Both talk REST to a catalog server running as its own process
(server_proc.py). The load comes from this one process.
"""

from __future__ import annotations

import itertools
import os
import random
import sys
import threading
import time

from perfbench import common
from perfbench.trace import Tracer, maybe_span

PROJECT, WAREHOUSE = "bench", "wh"
SCHEMA = {
    "type": "struct",
    "schema-id": 0,
    "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "name", "required": False, "type": "string"},
        {"id": 3, "name": "value", "required": False, "type": "double"},
    ],
}


class CatalogServer:
    """One catalog server process plus a configured client."""

    def __init__(self, children: common.Children, work: str, spans_file: str | None = None):
        from iceberg_rest_server_spark.catalog.client import RestCatalogClient

        self.children = children
        self.spans_file = spans_file
        os.makedirs(work, exist_ok=True)
        port_file = os.path.join(work, f"port-{time.monotonic_ns()}")
        argv = [sys.executable, os.path.join(common.HERE, "server_proc.py"), port_file]
        if spans_file:
            argv.append(spans_file)
        self.proc = children.spawn(argv)
        deadline = time.monotonic() + 60
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("catalog server did not start")
            time.sleep(0.005)
        with open(port_file) as fh:
            self.url = f"http://127.0.0.1:{int(fh.read())}"
        self.warehouse_dir = os.path.join(work, "warehouse")
        admin = RestCatalogClient(self.url)
        admin.create_warehouse(PROJECT, WAREHOUSE, self.warehouse_dir)

    def client(self):
        from iceberg_rest_server_spark.catalog.client import RestCatalogClient

        c = RestCatalogClient(self.url)
        c.configure(PROJECT, WAREHOUSE)
        return c

    def rss_mb(self) -> float:
        return common.peak_rss_mb(self.proc.pid)

    def cpu_s(self) -> float:
        return common.proc_cpu_s(self.proc.pid)

    def stop(self) -> list:
        """Stop the server; returns its spans when it was traced."""
        self.children.stop(self.proc)
        if not self.spans_file:
            return []
        import json

        with open(self.spans_file) as fh:
            return json.load(fh)


def install_client_tracing(tracer: Tracer) -> None:
    from iceberg_rest_server_spark.catalog.client import RestCatalogClient

    for attr in sorted(vars(RestCatalogClient)):
        if not attr.startswith("_") and callable(getattr(RestCatalogClient, attr)):
            tracer.wrap(RestCatalogClient, attr, "client")
    tracer.propagate_over_http()


def snapshot(rng: random.Random, parent: int | None, seq_hint: int) -> dict:
    sid = rng.getrandbits(62)
    return {
        "snapshot-id": sid,
        "parent-snapshot-id": parent,
        "timestamp-ms": 1_700_000_000_000 + seq_hint,
        "operation": "append",
        "manifest-list": f"/bench/manifest-{sid}.json",
        "summary": {"operation": "append", "added-files": str(rng.randint(1, 8)),
                    "added-records": str(rng.randint(1000, 100000))},
    }


def add_snapshot_updates(snap: dict) -> list[dict]:
    return [
        {"action": "add-snapshot", "snapshot": snap},
        {"action": "set-snapshot-ref", "ref-name": "main",
         "snapshot-id": snap["snapshot-id"], "type": "branch"},
    ]


# ================================================================ catalog-rest

N_TABLES, N_NAMESPACES, HISTORY = 100, 4, 4
CONNECTIONS = 2
WARMUP_ROUNDS = 6
# ops of each kind in one cycle of one connection: 80% reads, 20% writes
# (a create_drop is two ops). Seeds change order and targets, never the mix.
OP_MIX = (
    ("load_table", 240), ("list_tables", 32), ("load_namespace", 24), ("config", 24),
    ("set_properties", 28), ("cas_snapshot", 28), ("transaction", 12), ("create_drop", 6),
)


def table_key(i: int) -> tuple[list[str], str]:
    return [f"ns{i % N_NAMESPACES}"], f"t{i:03d}"


def op_cycle(seed: int, conn: int) -> list[tuple]:
    """The seeded op sequence one connection repeats. Writes go only to
    the connection's own half of the tables; reads to any table. Every
    write keeps a table's history the same size (CAS commits expire the
    oldest snapshot, properties reuse four keys, a created table is
    dropped by the next op), so the sequence is a cycle: per-op cost does
    not depend on how long a run is."""
    rng = random.Random(f"catalog-rest/{seed}/{conn}")
    own = [i for i in range(N_TABLES) if i % CONNECTIONS == conn]
    kinds = [k for k, n in OP_MIX for _ in range(n)]
    rng.shuffle(kinds)
    ops: list[tuple] = []
    for n, kind in enumerate(kinds):
        if kind == "load_table":
            ops.append((kind, rng.randrange(N_TABLES)))
        elif kind in ("list_tables", "load_namespace"):
            ops.append((kind, rng.randrange(N_NAMESPACES)))
        elif kind == "config":
            ops.append((kind, None))
        elif kind == "set_properties":
            ops.append((kind, rng.choice(own), f"k{rng.randrange(4)}", f"v{rng.getrandbits(32)}"))
        elif kind == "cas_snapshot":
            ops.append((kind, rng.choice(own), rng.getrandbits(62)))
        elif kind == "transaction":
            a, b = rng.sample(own, 2)
            ops.append((kind, a, b, f"v{rng.getrandbits(32)}"))
        else:
            name = f"tmp_c{conn}_{n}"
            ops.append(("create_table", conn, name))
            ops.append(("drop_table", conn, name))
    return ops


class Ledger:
    """Acknowledged writes and observed reads, for the read gate."""

    def __init__(self):
        self.seq = itertools.count(1)
        self.writes: dict[int, list[tuple[int, str | None]]] = {}
        self.reads: list[tuple[int, int, str]] = []

    def ack(self, table: int, location: str | None) -> None:
        self.writes.setdefault(table, []).append((next(self.seq), location))


def check_reads(ledger: Ledger) -> list[str]:
    """Every load_table must return the metadata location acknowledged
    for that table at or after the last write acknowledged before the
    read started, and so never one from a failed commit. A write whose
    response carries no location (commit_transaction) admits any
    location not older than the last one acknowledged before the read."""
    errors = []
    for table, start, loc in ledger.reads:
        hist = ledger.writes.get(table, [])
        before = [i for i, (seq, _) in enumerate(hist) if seq < start]
        first = before[-1] if before else 0
        allowed = hist[first:]
        older = {l for _, l in hist[:first] if l is not None}
        ok = any(l == loc for _, l in allowed) or (
            any(l is None for _, l in allowed) and loc not in older)
        if not ok:
            errors.append(f"table {table}: read at seq {start} returned {loc}")
    return errors


class CatalogRest:
    """Closed-loop REST traffic over CONNECTIONS connections, each
    repeating its op cycle (op_cycle) against 100 seeded tables."""

    def __init__(self, seed: int, children: common.Children, work: str):
        self.seed, self.children, self.work = seed, children, work
        self.cycles = [op_cycle(seed, c) for c in range(CONNECTIONS)]

    def setup(self, spans_file: str | None = None) -> CatalogServer:
        srv = CatalogServer(self.children, self.work, spans_file)
        client = srv.client()
        rng = random.Random(f"catalog-rest/setup/{self.seed}")
        self.ledger = Ledger()
        self.heads: dict[int, list[int]] = {}
        # where each connection is in its cycle; runs continue from here
        self.pos = [0] * CONNECTIONS
        for n in range(N_NAMESPACES):
            client.create_namespace([f"ns{n}"])
        for i in range(N_TABLES):
            ns, name = table_key(i)
            client.create_table(ns, name, SCHEMA)
            snaps, parent, updates = [], None, []
            for h in range(HISTORY):
                s = snapshot(rng, parent, h)
                updates.append({"action": "add-snapshot", "snapshot": s})
                snaps.append(s["snapshot-id"])
                parent = s["snapshot-id"]
            updates.append({"action": "set-snapshot-ref", "ref-name": "main",
                            "snapshot-id": parent, "type": "branch"})
            updates.append({"action": "set-properties",
                            "updates": {f"k{k}": "v0" for k in range(4)}})
            out = client.commit_table(ns, name, [], updates)
            self.ledger.ack(i, out["metadata-location"])
            self.heads[i] = snaps
        # warm-up: repeat slices of the cycle until they stop getting faster
        common.warm_until_steady(
            lambda: self._drive([srv.client() for _ in range(CONNECTIONS)], None, 150),
            WARMUP_ROUNDS)
        return srv

    def _do(self, client, op: tuple, ledger: Ledger, out: dict, lap: int) -> None:
        from iceberg_rest_server_spark.catalog.client import CatalogHTTPError

        kind = op[0]
        if kind == "load_table":
            ns, name = table_key(op[1])
            start = next(ledger.seq)
            loc = client.load_table(ns, name)["metadata-location"]
            ledger.reads.append((op[1], start, loc))
        elif kind == "list_tables":
            names = client.list_tables([f"ns{op[1]}"])
            if len([n for n in names if n[1:].isdigit()]) != N_TABLES // N_NAMESPACES:
                raise AssertionError(f"list_tables ns{op[1]} returned {len(names)} names")
        elif kind == "load_namespace":
            client.load_namespace([f"ns{op[1]}"])
        elif kind == "config":
            client.configure(PROJECT, WAREHOUSE)
        elif kind == "set_properties":
            ns, name = table_key(op[1])
            res = client.commit_table(ns, name, [], [
                {"action": "set-properties", "updates": {op[2]: op[3]}}])
            ledger.ack(op[1], res["metadata-location"])
        elif kind == "cas_snapshot":
            ns, name = table_key(op[1])
            # CAS append that also expires the oldest snapshot and resets
            # the snapshot log, so the table's history keeps its size
            for attempt in range(4):
                snaps = self.heads[op[1]]
                # ids differ per lap of the cycle: a table may still hold
                # the snapshot this op added one lap earlier
                new = snapshot(random.Random(f"{op[2]}/{lap}/{attempt}"), snaps[-1], attempt)
                updates = [
                    {"action": "remove-snapshots", "snapshot-ids": [snaps[0]]},
                    {"action": "remove-snapshot-ref", "ref-name": "main"},
                ] + add_snapshot_updates(new)
                try:
                    res = client.commit_table(ns, name, [
                        {"type": "assert-ref-snapshot-id", "ref": "main",
                         "snapshot-id": snaps[-1]}], updates)
                except CatalogHTTPError as exc:
                    if exc.code != 409 or attempt == 3:
                        raise
                    out["retries"] += 1
                    meta = client.load_table(ns, name)["metadata"]
                    self.heads[op[1]] = [s["snapshot-id"] for s in meta["snapshots"]]
                    continue
                self.heads[op[1]] = snaps[1:] + [new["snapshot-id"]]
                ledger.ack(op[1], res["metadata-location"])
                break
        elif kind == "transaction":
            changes = []
            for t in op[1:3]:
                ns, name = table_key(t)
                changes.append({"identifier": {"namespace": ns, "name": name},
                                "requirements": [],
                                "updates": [{"action": "set-properties",
                                             "updates": {"k0": op[3]}}]})
            client.commit_transaction(changes)
            for t in op[1:3]:
                ledger.ack(t, None)
        elif kind == "create_table":
            client.create_table([f"ns{op[1]}"], op[2], SCHEMA)
        elif kind == "drop_table":
            client.drop_table([f"ns{op[1]}"], op[2])

    def _drive(self, clients, deadline: float | None, max_ops: int | None,
               tracer: Tracer | None = None) -> list[dict]:
        """Closed loop: each connection sends its next op only after the
        previous one completed."""
        results = [{"lat": [], "failed": 0, "retries": 0, "errors": []}
                   for _ in clients]

        def loop(c: int) -> None:
            out, ops, first = results[c], self.cycles[c], self.pos[c]
            for n in itertools.count(first):
                if (deadline is not None and time.monotonic() >= deadline) or (
                        max_ops is not None and n - first >= max_ops):
                    self.pos[c] = n
                    return
                op, lap = ops[n % len(ops)], n // len(ops)
                t0 = time.monotonic()
                try:
                    with maybe_span(tracer, "generator", op[0], rid=f"{c}-{n}"):
                        self._do(clients[c], op, self.ledger, out, lap)
                except Exception as exc:  # counted as failed, reported below
                    out["failed"] += 1
                    out["errors"].append(f"{op[0]}: {exc!r}"[:300])
                out["lat"].append((time.monotonic() - t0) * 1000.0)

        threads = [threading.Thread(target=loop, args=(c,)) for c in range(len(clients))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return results

    def window(self, srv: CatalogServer, seconds: float, tracer: Tracer | None = None) -> dict:
        clients = [srv.client() for _ in range(CONNECTIONS)]
        with common.Window(srv.warehouse_dir) as w:
            cpu0 = srv.cpu_s()
            results = self._drive(clients, time.monotonic() + seconds, None, tracer)
            server_cpu = srv.cpu_s() - cpu0
        lat = [x for r in results for x in r["lat"]]
        errors = [e for r in results for e in r["errors"]] + check_reads(self.ledger)
        return {
            "w": w, "ops": len(lat), "lat": lat,
            "failed": sum(r["failed"] for r in results),
            "retries": sum(r["retries"] for r in results),
            "errors": errors, "server_cpu_s": server_cpu, "rss_mb": srv.rss_mb(),
        }


# ================================================================ commit-chain

CHAIN_COMMITS = 500


def check_chain(meta: dict, on_disk: dict, n_commits: int) -> list[str]:
    """A finished chain holds n_commits snapshots in one linear parent
    chain ending at main, and the gzip metadata file on disk matches the
    metadata the catalog serves."""
    errors = []
    snaps = meta.get("snapshots", [])
    if len(snaps) != n_commits:
        errors.append(f"chain has {len(snaps)} snapshots, expected {n_commits}")
    by_id = {s["snapshot-id"]: s for s in snaps}
    head = meta.get("refs", {}).get("main", {}).get("snapshot-id")
    seen = 0
    while head is not None and head in by_id and seen <= len(snaps):
        seen += 1
        head = by_id[head].get("parent-snapshot-id")
    if seen != len(snaps) or head is not None:
        errors.append(f"parent chain from main covers {seen} of {len(snaps)} snapshots")
    if _without_nulls(on_disk) != _without_nulls(meta):
        errors.append("metadata file on disk differs from the loaded metadata")
    return errors


def _without_nulls(node):
    if isinstance(node, dict):
        return {k: _without_nulls(v) for k, v in node.items() if v is not None}
    if isinstance(node, list):
        return [_without_nulls(x) for x in node]
    return node


class CommitChain:
    """Whole chains of CHAIN_COMMITS CAS commits on one fresh table each,
    over one connection."""

    def __init__(self, seed: int, children: common.Children, work: str):
        self.seed, self.children, self.work = seed, children, work
        self.chain_no = itertools.count()

    def setup(self, spans_file: str | None = None) -> CatalogServer:
        srv = CatalogServer(self.children, self.work, spans_file)
        client = srv.client()
        client.create_namespace(["chains"])
        common.warm_until_steady(
            lambda: self._chain(client, 100, None, {"lat": [], "errors": [], "failed": 0}),
            WARMUP_ROUNDS)
        return srv

    def _chain(self, client, n_commits: int, tracer: Tracer | None, out: dict) -> None:
        from iceberg_rest_server_spark.catalog.io import read_metadata_file

        k = next(self.chain_no)
        rng = random.Random(f"commit-chain/{self.seed}/{k}")
        name = f"chain{k}"
        client.create_table(["chains"], name, SCHEMA)
        parent = None
        for i in range(n_commits):
            snap = snapshot(rng, parent, i)
            req = [{"type": "assert-ref-snapshot-id", "ref": "main", "snapshot-id": parent}]
            t0 = time.monotonic()
            try:
                with maybe_span(tracer, "generator", "commit", rid=f"{k}-{i}"):
                    client.commit_table(["chains"], name, req, add_snapshot_updates(snap))
                parent = snap["snapshot-id"]
            except Exception as exc:
                out["failed"] += 1
                out["errors"].append(f"commit {i}: {exc!r}"[:300])
            out["lat"].append((time.monotonic() - t0) * 1000.0)
        loaded = client.load_table(["chains"], name)
        on_disk = read_metadata_file(loaded["metadata-location"])
        out["errors"].extend(check_chain(loaded["metadata"], on_disk, n_commits))
        client.drop_table(["chains"], name)

    def window(self, srv: CatalogServer, seconds: float, tracer: Tracer | None = None) -> dict:
        client = srv.client()
        out = {"lat": [], "errors": [], "failed": 0}
        chains = 0
        with common.Window(srv.warehouse_dir) as w:
            cpu0 = srv.cpu_s()
            deadline = time.monotonic() + seconds
            # whole chains only: every run sees histories spread evenly
            # over 0..CHAIN_COMMITS-1
            while chains == 0 or time.monotonic() < deadline:
                self._chain(client, CHAIN_COMMITS, tracer, out)
                chains += 1
            server_cpu = srv.cpu_s() - cpu0
        return {
            "w": w, "ops": len(out["lat"]), "lat": out["lat"],
            "failed": out["failed"], "retries": 0, "errors": out["errors"],
            "server_cpu_s": server_cpu, "rss_mb": srv.rss_mb(),
            "units": chains, "guaranteed": CHAIN_COMMITS,
        }
