"""CLI entry point (parity with ``xcube_server/cli.py:31-92``).

``python -m xcube_server_spark.cli serve -c config.yml [-p PORT] [-a HOST]``
starts the HTTP service over a SparkSession; flags mirror the reference's
(`--port/--address/--config/--update/--verbose`; `--tilecache` maps to the
TileService byte-cache capacity).
"""

from __future__ import annotations

import argparse
import sys
import time


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="xcube-server-spark")
    sub = p.add_subparsers(dest="command", required=True)
    serve = sub.add_parser("serve", help="start the cube server")
    serve.add_argument("-c", "--config", required=True, help="YAML config path")
    serve.add_argument("-p", "--port", type=int, default=8080)
    serve.add_argument("-a", "--address", default="127.0.0.1")
    serve.add_argument(
        "-u", "--update", type=float, default=2.0,
        help="config hot-reload check period (seconds); 0 disables",
    )
    serve.add_argument(
        "--tilecache", default="512M",
        help="tile byte-cache size (e.g. 512M, 1G); reference default 512M",
    )
    serve.add_argument(
        "--traceperf", action="store_true",
        help="log per-tile timings (reference --traceperf)",
    )
    serve.add_argument("-v", "--verbose", action="store_true")
    return p


def main(argv: list[str] | None = None) -> int:
    args = make_parser().parse_args(argv)
    if args.command != "serve":  # pragma: no cover
        return 2

    from .cube.catalog import ConfigWatcher, CubeCatalog
    from .cube.reqparams import parse_mem_size
    from .cube.tiles import TileService
    from .server.app import CubeServer
    from .session import get_spark

    spark = get_spark(app_name="xcube-server-spark")
    catalog = CubeCatalog(spark)
    watcher = ConfigWatcher(catalog, args.config)
    # no places= table: _live_places() reads the catalog each request, so
    # a ConfigWatcher reload serves the fresh PlaceGroups table
    server = CubeServer(catalog, host=args.address, port=args.port)
    server.tiles = TileService(
        catalog,
        capacity=parse_mem_size(args.tilecache),
        trace_perf=args.traceperf,
    )
    port = server.start()
    print(f"serving on http://{args.address}:{port}", file=sys.stderr)
    try:
        while True:
            time.sleep(max(args.update, 0.5))
            if args.update > 0 and watcher.maybe_reload():
                print("config reloaded", file=sys.stderr)
    except KeyboardInterrupt:  # pragma: no cover
        server.stop()
        spark.stop()
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
