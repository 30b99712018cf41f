"""Server process of the serving workloads.

Builds the demo cube, registers it (plus, for ``analytics_routes``, a
computed weekly dataset and a place group) and serves it with a live
``CubeServer``. The set-up runs ``--setups`` times and the last server
stays up; then the process answers JSON commands read line by line from
stdin. Every reply is one stdout line starting with ``MARK``.

Started by ``run.py`` with the repository root on ``PYTHONPATH``, so that
Spark's Python workers import the engine too. With ``--trace 1`` the layer
entry points are wrapped (``tracing.install``) and Spark writes an event log
to ``<rundir>/eventlog``.
"""

from __future__ import annotations

import argparse
import base64
import gc
import json
import os
import shutil
import sys
import time

MARK = "@@perfbench "


def reply(obj: dict) -> None:
    sys.stdout.write(MARK + json.dumps(obj) + "\n")
    sys.stdout.flush()


def store_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def build_server(spark, workload: str, base: str, places_path: str):
    """One set-up: ingest the cube, register the catalog, start the server.
    Returns the server and the ingest time."""
    from perfbench import workload as wl
    from xcube_server_spark.cube.catalog import CubeCatalog, DatasetMeta, StyleMeta
    from xcube_server_spark.cube.places import load_place_group
    from xcube_server_spark.server.app import CubeServer
    from xcube_server_spark.sources.cube_ingest import synth_demo_cube, write_cube

    t0 = time.perf_counter()
    cube, grid = synth_demo_cube(
        spark, width=wl.WIDTH, height=wl.HEIGHT, times=wl.TIMES, extent=wl.EXTENT
    )
    _, tg = write_cube(cube, grid, base, tile_size=wl.TILE)
    ingest_s = time.perf_counter() - t0
    styles = {v: StyleMeta(c, r) for v, (c, r) in wl.STYLES.items()}
    catalog = CubeCatalog(spark)
    catalog.register_written_cube(
        wl.DATASET, base, grid, tg, list(wl.VARS), styles=styles
    )
    places = None
    if workload == "analytics_routes":
        # registered the way load_config registers a 'FileSystem: memory'
        # dataset
        catalog.register(DatasetMeta(
            identifier=wl.COMPUTED, title=wl.COMPUTED, base_path="",
            grid=grid, tile_grid=tg, variables=list(wl.VARS), styles=styles,
            computed=True, function="resample_in_time",
            input_datasets=[wl.DATASET], input_params={"period": "1W"},
        ))
        places = load_place_group(spark, wl.PLACE_GROUP, places_path)
    server = CubeServer(catalog, places=places)
    server.start()
    return server, ingest_s


def render_reference(server, key: dict) -> str:
    """The Spark batch render (``render_tiles``) of one tile, base64 PNG."""
    from xcube_server_spark.cube.catalog import StyleMeta
    from xcube_server_spark.cube.tiles import render_tiles

    meta = server.catalog.datasets[key["ds"]]
    st = meta.styles.get(key["var"]) or StyleMeta()
    style = StyleMeta(
        key.get("cbar") or st.color_bar,
        (
            st.value_range[0] if key.get("vmin") is None else key["vmin"],
            st.value_range[1] if key.get("vmax") is None else key["vmax"],
        ),
    )
    rows = render_tiles(
        server.catalog, key["ds"], key["var"], key["z"], time=key.get("time"),
        style=style, tiles=[(key["x"], key["y"])],
    ).collect()
    return base64.b64encode(bytes(rows[0]["png"])).decode() if rows else ""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setups", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    from perfbench import tracing
    from xcube_server_spark.cube.cache import ByteCache
    from xcube_server_spark.session import get_spark

    rundir = os.path.abspath(args.rundir)
    conf = {
        "spark.local.dir": os.path.join(rundir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(rundir, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse"),
    }
    if args.trace:
        os.makedirs(os.path.join(rundir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(rundir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=f"local[{args.cpus}]",
        extra_conf=conf,
    )
    spark.range(1).collect()
    reply({"event": "session"})
    recorder = tracing.install(spark) if args.trace else None

    places_path = os.path.join(rundir, "places.geojson")
    setups = []
    server = None
    for i in range(args.setups):
        if server is not None:
            server.stop()
            server.httpd.server_close()
            shutil.rmtree(server.catalog.datasets["demo"].base_path)
        t0 = time.perf_counter()
        server, ingest_s = build_server(
            spark, args.workload, os.path.join(rundir, f"cube{i}"), places_path
        )
        setups.append({"setup_s": time.perf_counter() - t0, "ingest_s": ingest_s})
    base = server.catalog.datasets["demo"].base_path
    files, size = store_size(base)
    reply({"event": "ready", "port": server.port, "cube": base, "setups": setups,
           "store_files": files, "store_bytes": size})

    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["cmd"]
        if op == "trace":
            recorder.enabled = bool(cmd["on"])
            reply({"ok": True})
        elif op == "reset":
            server.tiles._cache = ByteCache(server.tiles.capacity)
            # collect the set-up's and warm-up's garbage now, not inside the
            # timed window
            gc.collect()
            spark._jvm.java.lang.System.gc()
            reply({"ok": True})
        elif op == "dump":
            cache = server.tiles._cache
            path = os.path.join(rundir, f"spans_{cmd['phase']}.json")
            with open(path, "w") as f:
                json.dump(recorder.take() if recorder else [], f)
            reply({"spans": path, "cache_entries": len(cache),
                   "cache_bytes": cache._used})
        elif op == "render":
            reply({"png": [render_reference(server, k) for k in cmd["keys"]]})
        elif op == "quit":
            break
    server.stop()
    server.httpd.server_close()
    spark.stop()
    reply({"event": "stopped"})


if __name__ == "__main__":
    main()
