"""Launch the catalog server as its own process.

    python3 perfbench/server_proc.py PORT_FILE [SPANS_FILE]

Untraced and traced runs start the server the same way: an in-memory
CatalogStore behind make_server, as `python -m
iceberg_rest_server_spark.catalog serve` does. With SPANS_FILE, timing
wrappers are installed before make_server is called and the spans are
written to SPANS_FILE when the process gets SIGTERM.
"""

from __future__ import annotations

import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import REQUEST_HEADER, Tracer, parse_request_header  # noqa: E402


def route_name(method: str, parts: list[str]) -> str:
    """Name a catalog REST route after the client call that sends it."""
    if parts[:2] == ["catalog", "v1"]:
        p = parts[2:]
        if p == ["config"]:
            return "config"
        rest = p[1:]
        if rest == ["transactions", "commit"]:
            return "commit_transaction"
        if rest[:1] == ["namespaces"]:
            depth = len(rest)
            if depth == 1:
                return {"GET": "list_namespaces", "POST": "create_namespace"}.get(method, "other")
            if depth == 2:
                return {"GET": "load_namespace", "DELETE": "drop_namespace"}.get(method, "other")
            if depth == 3 and rest[2] == "tables":
                return {"GET": "list_tables", "POST": "create_table"}.get(method, "other")
            if depth == 4 and rest[2] == "tables":
                return {"GET": "load_table", "POST": "commit_table",
                        "DELETE": "drop_table"}.get(method, "other")
    if parts[:2] == ["management", "v1"]:
        return "management"
    return "other"


def install(tracer: Tracer) -> None:
    from iceberg_rest_server_spark.catalog import metadata, store
    from iceberg_rest_server_spark.catalog.server import CatalogHandler

    real_route = CatalogHandler.route

    def route(self, method, parts, qs):
        parent, rid = parse_request_header(self.headers.get(REQUEST_HEADER))
        with tracer.span("server", route_name(method, parts), parent=parent, rid=rid):
            return real_route(self, method, parts, qs)

    CatalogHandler.route = route

    for attr in sorted(vars(store.CatalogStore)):
        if not attr.startswith("_") and callable(getattr(store.CatalogStore, attr)):
            tracer.wrap(store.CatalogStore, attr, "store")
    tracer.wrap(metadata.TableMetadataBuilder, "apply", "metadata")
    tracer.wrap(metadata.TableMetadataBuilder, "build", "metadata",
                after=lambda out, args: {"snapshots": len(out["snapshots"])})
    # store.py imports these by name, so the names in its namespace are
    # the ones its commit path calls
    tracer.wrap(store, "assert_requirement", "metadata")
    tracer.wrap(store, "write_metadata_file", "io",
                after=lambda out, args: {"bytes": os.path.getsize(out)})
    tracer.wrap(store, "publish_event", "events")


def main(argv: list[str]) -> int:
    port_file = argv[1]
    spans_file = argv[2] if len(argv) > 2 else None
    tracer = None
    if spans_file:
        tracer = Tracer("server")
        install(tracer)

    from iceberg_rest_server_spark.catalog.server import make_server
    from iceberg_rest_server_spark.catalog.store import CatalogStore

    httpd = make_server(CatalogStore(), 0)

    def on_term(signum, frame):
        raise KeyboardInterrupt

    signal.signal(signal.SIGTERM, on_term)
    tmp = port_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(httpd.server_address[1]))
    os.replace(tmp, port_file)
    try:
        httpd.serve_forever(poll_interval=0.05)
    except KeyboardInterrupt:
        pass
    finally:
        httpd.server_close()
        if tracer is not None:
            tracer.dump(spans_file)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
