#!/usr/bin/env python3
"""Benchmark of the cube server's HTTP serving path.

    python3 perfbench/run.py --workload tile_browse --seed 1 --seconds 15 --trace 0

Starts the server process (``serve.py``), drives it over HTTP from this
process with a closed loop of seeded requests for ``--seconds``, checks the
answers, stops every process it started and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import base64
import hashlib
import http.client
import json
import math
import os
import queue
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workload as wl  # noqa: E402
from perfbench.serve import MARK  # noqa: E402
from perfbench.stats import (  # noqa: E402
    highest_supported_percentile,
    percentile,
    self_times,
)

SETUPS = 2  # set-ups per run; setup_s takes their median
REPLAY = {"tile_browse": 600, "analytics_routes": 20}  # traced replay length
# Spark gets half the cores; the server's own Python process, the Python
# workers, the JVM's non-task threads and the load generator use the rest.
# With local[4] on 4 cores these together asked for more cores than the
# host has, and an analytics_routes request took a fifth more CPU time.
CPUS = max(1, min(4, os.cpu_count() or 1) // 2)
CLK_TCK = os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- host ----------------------------------------------------------------------

def spark_jvms() -> list[str]:
    """Command lines of running Spark JVMs. Uses ``ps`` rather than
    ``pgrep -f``, which also matches the command line of its own caller."""
    out = subprocess.run(
        ["ps", "-eo", "pid=,args="], capture_output=True, text=True, check=True
    ).stdout
    return [
        ln.strip()[:160] for ln in out.splitlines()
        if "java" in ln and "org.apache.spark" in ln
    ]


def calibration_ms() -> float:
    """A fixed single-core Python loop, timed: the host's speed right now."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return (time.perf_counter() - t0) * 1000


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st:
                parents.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parents.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    ticks = 0
    for pid in pids:
        st = _proc_stat(pid)
        if st:
            ticks += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def host_ticks() -> list[int]:
    """The host's CPU time counters (``/proc/stat``): user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of the host's CPU time between two readings that the hypervisor
    gave to other machines: a window with much of it runs slow as a whole."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100 * d[7] / sum(d) if sum(d) else 0.0


def reset_peak_rss(pids: list[int]) -> None:
    """Sets each process's peak resident size (VmHWM) to its current size."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _alive(pid: int) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[0] != "Z"  # a zombie has ended


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


# -- server process --------------------------------------------------------------

class Server:
    """The server process and the command channel to it."""

    def __init__(self, workload: str, rundir: str, trace: int) -> None:
        env = dict(os.environ)
        # Spark's Python workers import the engine from PYTHONPATH; a
        # sys.path entry in the server process would not reach them.
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        )
        env["TMPDIR"] = os.path.join(rundir, "tmp")
        env["PYSPARK_PYTHON"] = sys.executable
        env.setdefault("SPARK_DRIVER_MEMORY", "1g")
        os.makedirs(env["TMPDIR"], exist_ok=True)
        self.log_path = os.path.join(rundir, "server.log")
        self._log = open(self.log_path, "w")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, "-u", os.path.join(ROOT, "perfbench", "serve.py"),
             "--workload", workload, "--rundir", rundir, "--trace", str(trace),
             "--setups", str(SETUPS), "--cpus", str(CPUS)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, cwd=rundir, env=env,
        )
        self._replies: queue.Queue = queue.Queue()
        self._pump = threading.Thread(target=self._read, daemon=True)
        self._pump.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith(MARK):
                self._replies.put(json.loads(line[len(MARK):]))
        self._replies.put(None)

    def next(self, timeout: float) -> dict:
        msg = self._replies.get(timeout=timeout)
        if msg is None:
            raise RuntimeError("server process exited")
        return msg

    def cmd(self, obj: dict, timeout: float = 120) -> dict:
        self.proc.stdin.write(json.dumps(obj) + "\n")
        self.proc.stdin.flush()
        return self.next(timeout)

    def jvm_pid(self) -> int:
        for pid in process_tree(self.proc.pid):
            if _comm(pid) == "java":
                return pid
        raise RuntimeError("the server process has no JVM child")

    def close(self) -> None:
        """Stop the server and wait until it and every child have ended."""
        pids = process_tree(self.proc.pid)
        if self.proc.poll() is None:
            try:
                self.cmd({"cmd": "quit"}, timeout=60)
            except (OSError, RuntimeError, queue.Empty):
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        deadline = time.monotonic() + 20
        for pid in pids:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        for pid in pids:
            while _alive(pid) and time.monotonic() < deadline + 10:
                time.sleep(0.05)
        self._pump.join(timeout=5)
        self._log.close()


# -- load ------------------------------------------------------------------------

def send(port: int, req: wl.Request, rid: str):
    headers = {"X-Request-Id": rid}
    if req.body is not None:
        headers["Content-Type"] = "application/json"
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(req.method, req.path, body=req.body, headers=headers)
        resp = conn.getresponse()
        status, body = resp.status, resp.read()
    except (OSError, http.client.HTTPException) as e:
        status, body = 0, repr(e).encode()
    finally:
        conn.close()
    return status, body, time.perf_counter() - t0


class Log:
    """Completed requests: (kind, status, seconds, request, body digest,
    seconds from the window's start to the answer), plus each distinct
    response body once."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []
        self.bodies: dict[str, bytes] = {}
        self.elapsed = 0.0  # start to the last counted answer

    def rate(self) -> float:
        """Completed requests per second. Timed to the last counted answer,
        not to the deadline, so the request cut off by the deadline does not
        make the rate jump by one request."""
        return len(self.rows) / self.elapsed if self.elapsed else 0.0

    def add(self, req: wl.Request, status: int, body: bytes, secs: float,
            end: float = 0.0) -> None:
        digest = hashlib.sha1(body).hexdigest()
        self.bodies.setdefault(digest, body)
        self.rows.append((req.kind, status, secs, req, digest, end))

    def failed(self) -> int:
        return sum(1 for r in self.rows if not 200 <= r[1] < 300)


def closed_loop(port: int, lists, seconds: float, tag: str, block: int = 1) -> Log:
    """Each connection sends its next request when the previous one has
    answered, until ``seconds`` have passed. With ``block`` 1, requests that
    end after the deadline are not counted. With a larger ``block``, each
    connection goes on past the deadline to the end of its current block of
    ``block`` requests, and to the end of its second block at least, and
    every answer counts: the window holds whole blocks only, never just the
    first one, which runs slower than later ones."""
    out = Log()
    lock = threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds
    least = 2 * block if block > 1 else 0  # requests per connection, at least

    def client(c: int) -> None:
        reqs = lists[c]
        i = 0
        while time.perf_counter() < deadline or i % block or i < least:
            req = reqs[i % len(reqs)]
            status, body, secs = send(port, req, f"{tag}-{c}-{i}")
            now = time.perf_counter()
            if block > 1 or now <= deadline:
                with lock:
                    out.add(req, status, body, secs, now - start)
                    out.elapsed = max(out.elapsed, now - start)
            i += 1

    threads = [threading.Thread(target=client, args=(c,)) for c in range(len(lists))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def replay(port: int, reqs, tag: str) -> Log:
    out = Log()
    for i, req in enumerate(reqs):
        status, body, secs = send(port, req, f"{tag}-0-{i}")
        out.add(req, status, body, secs)
    return out


# -- output checks -------------------------------------------------------------

def _tile_key(path: str) -> dict:
    from urllib.parse import parse_qs, urlparse

    url = urlparse(path)
    p = url.path.split("/")
    q = {k: v[0] for k, v in parse_qs(url.query).items()}
    return {
        "ds": p[2], "var": p[4], "z": int(p[6]), "x": int(p[7]),
        "y": int(p[8].removesuffix(".png")), "time": q.get("time"),
        "cbar": q.get("cbar"),
        "vmin": float(q["vmin"]) if "vmin" in q else None,
        "vmax": float(q["vmax"]) if "vmax" in q else None,
    }


def _holds_cells(key: dict) -> bool:
    cols, rows = wl.data_tiles(key["z"])
    return key["x"] < cols and key["y"] < rows


def run_checks(workload: str, seed: int, srv: Server, ready: dict, done: Log) -> tuple[int, int]:
    """Checks the answers of one timed window; returns (checks, failures)."""
    from perfbench import checks

    rng = random.Random(f"check:{workload}:{seed}")
    ok_rows = [r for r in done.rows if 200 <= r[1] < 300]
    results: list[bool] = []
    tiles = [r for r in ok_rows if r[0] in ("tile", "spark_tile")]
    decoded = {d: checks.tile_ok(done.bodies[d]) for d in {r[4] for r in tiles}}
    results += [decoded[r[4]] for r in tiles]
    if workload == "tile_browse":
        # a key always gets the same bytes back
        by_path: dict[str, set[str]] = {}
        for r in tiles:
            by_path.setdefault(r[3].path, set()).add(r[4])
        results += [len(d) == 1 for d in by_path.values()]
        # a sample of fast-path tiles equals the Spark batch render
        inside = sorted(p for p in by_path if _holds_cells(_tile_key(p)))
        sample = rng.sample(inside, min(2, len(inside)))
        refs = srv.cmd({"cmd": "render", "keys": [_tile_key(p) for p in sample]},
                       timeout=120)["png"]
        for p, ref in zip(sample, refs):
            body = done.bodies[next(iter(by_path[p]))]
            results.append(bool(ref) and checks.same_pixels(body, base64.b64decode(ref)))
        return len(results), results.count(False)
    truth = checks.CubeTruth(ready["cube"])
    ts = [r for r in ok_rows if r[0].startswith("ts_")]
    sample = rng.sample(ts, min(8, len(ts)))
    tsm = [r for r in ts if "/conc_tsm/" in r[3].path]
    if tsm and not any("/conc_tsm/" in r[3].path for r in sample):
        sample.append(rng.choice(tsm))  # all-NULL steps 2 and 3
    for r in sample:
        doc = json.loads(done.bodies[r[4]])
        results.append(checks.check_ts(truth, r[3].path, r[3].body, doc))
    points = wl.places(seed)
    for r in ok_rows:
        if r[0].startswith("places_"):
            doc = json.loads(done.bodies[r[4]])
            results.append(checks.check_places(points, r[3].path, r[3].body, doc))
    return len(results), results.count(False)


# -- metrics -------------------------------------------------------------------

def kind_summary(done: Log) -> dict[str, list]:
    """Per request kind: [count, p50, p90, p99, mean] (ms), for the run record."""
    by: dict[str, list[float]] = {}
    for kind, _, secs, *_ in done.rows:
        by.setdefault(kind, []).append(secs * 1000)
    return {k: [len(v)] + [round(percentile(v, p), 2) for p in (50, 90, 99)]
            + [round(statistics.fmean(v), 2)] for k, v in sorted(by.items())}


def route_latencies(done: Log) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for kind, _, secs, *_ in done.rows:
        group = "ts" if kind.startswith("ts_") else "places" if kind.startswith("places_") else kind
        by.setdefault(group, []).append(secs * 1000)
    return {
        "route.tile_p50_ms": percentile(by.get("tile", []), 50),
        "route.tile_p99_ms": percentile(by.get("tile", []), 99),
        "route.meta_p50_ms": percentile(by.get("meta", []), 50),
        "route.ts_p50_ms": percentile(by.get("ts", []), 50),
        "route.ts_p90_ms": percentile(by.get("ts", []), 90),
        "route.places_p50_ms": percentile(by.get("places", []), 50),
        "route.places_p90_ms": percentile(by.get("places", []), 90),
        "route.spark_tile_p50_ms": percentile(by.get("spark_tile", []), 50),
    }


def layer_metrics(spans: list[dict], groups: dict, c_log: Log, cache: dict) -> dict:
    """Per-layer metrics of the traced single-connection replay."""
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    dur = {name: [(s["t1"] - s["t0"]) * 1000 for s in ss] for name, ss in by.items()}
    selft = self_times(spans)
    n_req = len(c_log.rows)
    gets = by.get("cache.get", [])
    hits = sum(1 for s in gets if s["info"])
    missed = {s["parent"] for s in gets if not s["info"]}
    fast = [s for s in by.get("tiles.read_fast", []) if s["info"]]
    fast_ms = [(s["t1"] - s["t0"]) * 1000 for s in fast]

    def total(key: str) -> float:
        return sum(g[key] for g in groups.values())

    # scanned rows per mask cell and time step, over geometry time series
    cells_by_rid: dict[str, int] = {}
    for s in by.get("rasterize.mask", []):
        cells_by_rid[s["rid"]] = cells_by_rid.get(s["rid"], 0) + s["info"]
    geo_rows = sum(groups[r]["input_rows"] for r in cells_by_rid if r in groups)
    geo_cells = sum(cells_by_rid.values()) * len(wl.TIMES)
    waits = [w for g in groups.values() for w in g["job_wait_ms"]]
    return {
        "app.requests": n_req,
        "app.non2xx": c_log.failed(),
        "app.self_ms_p50": percentile(
            [selft[s["id"]] * 1000 for s in by.get("app.route", [])], 50),
        "cache.lookups": len(gets),
        "cache.hit_ratio": hits / len(gets) if gets else 0.0,
        "cache.get_us_p50": percentile(dur.get("cache.get", []), 50) * 1000,
        "cache.put_us_p99": percentile(dur.get("cache.put", []), 99) * 1000,
        "cache.entries": cache["cache_entries"],
        "cache.mb": cache["cache_bytes"] / 2**20,
        "tiles.fast_reads": len(fast),
        "tiles.read_ms_p50": percentile(fast_ms, 50),
        "tiles.read_ms_p99": percentile(fast_ms, 99),
        "tiles.miss_ms_p50": percentile(
            [(s["t1"] - s["t0"]) * 1000 for s in by.get("tiles.get_tile", [])
             if s["id"] in missed], 50),
        "tiles.spark_fallbacks": len(by.get("tiles.spark_render", [])),
        "colormap.ms_p50": percentile(dur.get("colormap.apply", []), 50),
        "png.encode_ms_p50": percentile(dur.get("png.encode", []), 50),
        "png.kb_p50": percentile(
            [s["info"] / 1024 for s in by.get("png.encode", [])], 50),
        "meta.datasets_ms_p50": percentile(dur.get("meta.datasets", []), 50),
        "meta.capabilities_ms_p50": percentile(dur.get("meta.capabilities", []), 50),
        "rasterize.ms_p50": percentile(dur.get("rasterize.mask", []), 50),
        "rasterize.cells_p50": percentile(
            [s["info"] for s in by.get("rasterize.mask", [])], 50),
        "plan.ts_ms_p50": percentile(dur.get("plan.ts", []), 50),
        "plan.places_ms_p50": percentile(dur.get("plan.places", []), 50),
        "spark.action_ms_p50": percentile(dur.get("spark.collect", []), 50),
        "spark.jobs_per_request": total("jobs") / n_req,
        "spark.jobless_requests": n_req - sum(1 for g in groups.values() if g["jobs"]),
        "spark.stages_per_request": total("stages") / n_req,
        "spark.tasks_per_request": total("tasks") / n_req,
        "spark.input_rows_per_request": total("input_rows") / n_req,
        "spark.scan_rows_per_cell": geo_rows / geo_cells if geo_cells else 0.0,
        "spark.job_wait_ms_p50": percentile(waits, 50),
        "spark.executor_run_s": total("run_ms") / 1000,
        "spark.executor_cpu_s": total("cpu_ns") / 1e9,
        "spark.gc_s": total("gc_ms") / 1000,
        "spark.shuffle_write_mb": total("shuffle_write_bytes") / 2**20,
        "spark.shuffle_read_mb": total("shuffle_read_bytes") / 2**20,
        "spark.spill_mb": total("spill_bytes") / 2**20,
        "spark.python_io_mb": total("python_bytes") / 2**20,
    }


# -- one run -------------------------------------------------------------------

def run(workload: str, seed: int, seconds: float, trace: int, rundir: str) -> dict:
    lists = wl.request_lists(workload, seed)
    block = wl.BLOCK[workload]
    if workload == "analytics_routes":
        with open(os.path.join(rundir, "places.geojson"), "w") as f:
            f.write(wl.places_geojson(wl.places(seed)))
    srv = Server(workload, rundir, trace)
    record: dict = {}
    try:
        srv.next(timeout=150)  # session up
        session_s = time.perf_counter() - srv.t_launch
        ready = srv.next(timeout=170)
        port = ready["port"]
        t0 = time.perf_counter()
        # one connection: on three, the warm-up took as long or longer
        warm = replay(port, wl.warmup_requests(workload, seed), "W")
        warm_s = time.perf_counter() - t0
        srv.cmd({"cmd": "reset"})
        jvm = srv.jvm_pid()
        reset_peak_rss([srv.proc.pid, jvm])
        setup_s = session_s + statistics.median(s["setup_s"] for s in ready["setups"])
        setup_s += warm_s
        record.update(session_s=session_s, setups=ready["setups"], warm_s=warm_s)
        metrics: dict[str, float] = {}
        if trace:
            srv.cmd({"cmd": "trace", "on": True})
            c_log = replay(port, lists[0][: REPLAY[workload]], "C")
            srv.cmd({"cmd": "trace", "on": False})
            c_dump = srv.cmd({"cmd": "dump", "phase": "C"})
            srv.cmd({"cmd": "reset"})
            done = closed_loop(port, lists, seconds, "A", block)  # untraced
            srv.cmd({"cmd": "reset"})
            srv.cmd({"cmd": "trace", "on": True})
            traced = closed_loop(port, lists, seconds, "B", block)
            srv.cmd({"cmd": "trace", "on": False})
            srv.cmd({"cmd": "dump", "phase": "B"})
        else:
            cpu0, jvm0 = cpu_seconds(process_tree(srv.proc.pid)), cpu_seconds([jvm])
            host0 = host_ticks()
            done = closed_loop(port, lists, seconds, "A", block)
            record["steal_pct"] = steal_pct(host0, host_ticks())
            cpu = cpu_seconds(process_tree(srv.proc.pid)) - cpu0
            record["jvm_cpu_s"] = cpu_seconds([jvm]) - jvm0
        # peak memory of the timed window(s), before the checks' Spark jobs
        rss = peak_rss_mb(srv.proc.pid) + peak_rss_mb(jvm)
        t0 = time.perf_counter()
        n_checks, bad_checks = run_checks(workload, seed, srv, ready, done)
        record["checks_s"] = time.perf_counter() - t0
        failed = done.failed() + warm.failed() + bad_checks
        per_s = [0] * max(1, math.ceil(done.elapsed))
        for r in done.rows:
            per_s[min(int(r[5]), len(per_s) - 1)] += 1
        record["answers_per_s"] = per_s  # shows contention inside the window
        record.update(requests=len(done.rows), checks=n_checks, bad_checks=bad_checks,
                      failed_requests=done.failed(), window_s=done.elapsed,
                      kinds=kind_summary(done))
        if not trace:
            lat = [r[2] * 1000 for r in done.rows]
            metrics = {
                "setup_s": setup_s,
                "p50_ms": statistics.median(lat),
                "throughput_rps": done.rate(),
                "rss_mb": rss,
                "cpu_ms_per_req": cpu * 1000 / max(len(done.rows), 1),
            }
    finally:
        t0 = time.perf_counter()
        srv.close()
        record["stop_s"] = time.perf_counter() - t0
    if trace:
        from perfbench.eventlog import parse_event_log

        with open(c_dump["spans"]) as f:
            spans = json.load(f)
        logdir = os.path.join(rundir, "eventlog")
        groups: dict = {}
        for name in os.listdir(logdir):
            with open(os.path.join(logdir, name)) as f:
                groups.update(parse_event_log(f, prefix="C-"))
        metrics = layer_metrics(spans, groups, c_log, c_dump)
        metrics.update(route_latencies(done))
        rps_a, rps_b = done.rate(), traced.rate()
        metrics["trace.overhead_pct"] = (rps_a - rps_b) / rps_a * 100 if rps_a else 0.0
        metrics["setup.session_s"] = session_s
        metrics["ingest.build_s"] = statistics.median(s["ingest_s"] for s in ready["setups"])
        metrics["ingest.store_mb"] = ready["store_bytes"] / 2**20
        metrics["ingest.files"] = ready["store_files"]
        failed += c_log.failed() + traced.failed()
    record["sample_counts"] = {
        "requests": len(done.rows),
        "highest_supported_pct": highest_supported_percentile(len(done.rows)),
    }
    return {"failed": failed, "attempted": len(done.rows), "metrics": metrics,
            "record": record}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.CONNECTIONS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import pyspark  # noqa: F401
        import xcube_server_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2
    others = spark_jvms()
    if others:
        log("refusing to run while another Spark JVM runs: " + "; ".join(others))
        return 3
    host = {"loadavg": os.getloadavg(), "calibration_ms": calibration_ms()}
    log(f"host {json.dumps(host)}")
    rundir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(rundir)
    try:
        out = run(args.workload, args.seed, args.seconds, args.trace, rundir)
    except Exception:
        log("run failed:\n" + traceback.format_exc())
        log_path = os.path.join(rundir, "server.log")
        if os.path.exists(log_path):
            with open(log_path) as f:
                log("server log tail:\n" + "".join(f.readlines()[-30:]))
        return 1
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    out["record"].update(host=host, seed=args.seed, workload=args.workload)
    log(f"record {json.dumps(out['record'])}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    if set(out["metrics"]) != {m["name"] for m in declared}:
        log(f"metrics differ from BENCHMARK.json: {sorted(out['metrics'])}")
        return 1
    metrics = {m["name"]: {"value": out["metrics"][m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
