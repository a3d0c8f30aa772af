"""Workload ``map_serving``: what map users wait on. Set-up builds a
viewport-partitioned ``export_json`` from fixed ``/wells`` rows; the
serving tier (``serve_wells_http``) then serves it from a child
process. This process is the load: at most ``CONNECTIONS`` keep-alive
connections send a fixed mix of full ``/wells``, viewport
``/wells?cell=<v>`` and non-partition filter ``/wells?operator=<v>``
requests, first open-loop (evenly spaced at the fixed ``RATE``, each
request timed from when it was due), then closed-loop for capacity, each
for the run's seconds.
Every response is checked against the rows the export must hold."""

from __future__ import annotations

import json
import os
import random
import socket
import statistics
import subprocess
import sys
import threading
import time
from urllib.parse import quote

from perfbench import corpus
from perfbench.common import (
    Context,
    Outcome,
    median,
    percentile,
    session_layers,
    start_sessions,
    stop_spark,
)

N_ROWS = 2000
# The served rows are the same in every run; the run's seed draws the
# request schedule (which cells and operators are asked for). Whether a
# full response's last chunk waits out the client's delayed ACK depends
# on the exact bytes served, so rows drawn per seed would make the full
# fetch ~40 ms slower on some seeds than on others, by construction.
DATA_SEED = 0
CONNECTIONS = 3
# The request mix and rate are assumptions; no request log exists. The
# repo's own client, the map page, sends one full /wells per page load,
# so full fetches are most of the mix. Viewport fetches (the route the
# cell-partitioned export is laid out for) and a non-partition filter
# are the tier's other two routes; they keep a smaller share so that a
# change to them shows too. The rate is fixed for every run, at under
# half the closed-loop capacity for this mix on a 4-core host (about 21
# requests/s), so the open loop times responses rather than a queue.
RATE = 9.0  # open-loop requests per second
SERVER_STARTS = 3  # cold starts of the serving tier per run
# six full fetches, three viewport fetches and one filter in every ten
MIX = ["full", "viewport", "full", "full", "filter",
       "full", "viewport", "full", "full", "viewport"]
_DOUBLE = {
    "latitude", "longitude", "acid_pct", "lbs_proppant", "top_ft", "bottom_ft",
    "stimulation_stages", "volume", "max_pressure_psi", "max_treatment_rate_bbls_min",
}
_COLUMNS = ["pdf_name", *corpus.HEADER_FIELDS, *corpus.STIM_FIELDS, *corpus.WEB_FIELDS, "cell"]
_HERE = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------------- client

class Connection:
    """One keep-alive HTTP/1.1 connection; returns the status and the body
    as received (a chunked body keeps its framing), so no parsing runs
    inside the timing."""

    def __init__(self, port: int) -> None:
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)

    def get(self, path: str) -> tuple[int, bool, bytes]:
        """Returns the status, whether the body is chunk-framed, and the
        body as received."""
        self.sock.sendall(f"GET {path} HTTP/1.1\r\nHost: localhost\r\n\r\n".encode())
        data = bytearray()
        while b"\r\n\r\n" not in data:
            data += self._recv()
        head, _, body = bytes(data).partition(b"\r\n\r\n")
        lines = head.split(b"\r\n")
        status = int(lines[0].split(b" ", 2)[1])
        headers = dict(
            (k.strip().lower(), v.strip())
            for k, _, v in (ln.partition(b":") for ln in lines[1:])
        )
        body = bytearray(body)
        if headers.get(b"transfer-encoding") == b"chunked":
            # JSON bodies carry no raw CR LF, so only the last chunk ends so
            while not (body.endswith(b"\r\n0\r\n\r\n") or body == b"0\r\n\r\n"):
                body += self._recv()
            return status, True, bytes(body)
        length = int(headers.get(b"content-length", b"0"))
        while len(body) < length:
            body += self._recv()
        return status, False, bytes(body)

    def _recv(self) -> bytes:
        chunk = self.sock.recv(1 << 18)
        if not chunk:
            raise ConnectionError("server closed the connection")
        return chunk

    def close(self) -> None:
        self.sock.close()


def dechunk(raw: bytes) -> bytes:
    out = bytearray()
    i = 0
    while True:
        j = raw.index(b"\r\n", i)
        size = int(raw[i:j], 16)
        if size == 0:
            return bytes(out)
        out += raw[j + 2 : j + 2 + size]
        i = j + 4 + size


# ----------------------------------------------------------------- server

class Server:
    """The serving tier in a child process, stopped when its stdin closes."""

    def __init__(self, export: str) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(_HERE, "wells_server.py"), export],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            env={**os.environ, "PYTHONHASHSEED": "0"},
        )
        self.port = int(self.proc.stdout.readline())

    def stop(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


# ------------------------------------------------------------------- load

class Load:
    """Requests and their results, with the expected rows per path."""

    def __init__(self, rows: list[dict], seed: int) -> None:
        self.rng = random.Random(seed)
        self.cells = sorted({r["cell"] for r in rows})
        self.operators = sorted({r["operator"] for r in rows})
        canon = [(r, json.dumps(r, sort_keys=True)) for r in rows]
        self.expected: dict[str, list[str]] = {"/wells": sorted(c for _, c in canon)}
        for key, values in (("cell", self.cells), ("operator", self.operators)):
            for v in values:
                self.expected[f"/wells?{key}={quote(v)}"] = sorted(
                    c for r, c in canon if r[key] == v
                )
        self.n_rows = len(rows)
        self.first_body: dict[str, tuple[bool, bytes]] = {}
        self.odd_bodies: list[tuple[str, tuple[bool, bytes]]] = []  # differ from the first
        self.lock = threading.Lock()

    def path(self, kind: str) -> str:
        if kind == "full":
            return "/wells"
        if kind == "viewport":
            return f"/wells?cell={quote(self.rng.choice(self.cells))}"
        return f"/wells?operator={quote(self.rng.choice(self.operators))}"

    def scanned(self, path: str) -> int:
        """Rows the tier reads for ``path``: one partition for a viewport,
        every row otherwise."""
        return len(self.expected[path]) if "cell=" in path else self.n_rows

    def keep(self, path: str, chunked: bool, body: bytes) -> None:
        with self.lock:
            first = self.first_body.setdefault(path, (chunked, body))
            if first[1] is not body and first != (chunked, body):
                self.odd_bodies.append((path, (chunked, body)))

    def verify(self, out: Outcome) -> None:
        """Every response equals a body that is checked here row by row."""
        for path, (chunked, raw) in [*self.first_body.items(), *self.odd_bodies]:
            try:
                body = dechunk(raw) if chunked else raw
            except ValueError as e:
                out.check(False, f"{path}: malformed chunked body ({e})")
                continue
            self.check_rows(out, path, body)

    def check_rows(self, out: Outcome, path: str, body: bytes) -> None:
        try:
            got = sorted(json.dumps(r, sort_keys=True) for r in json.loads(body))
        except (ValueError, TypeError) as e:
            out.check(False, f"{path}: malformed response ({e})")
            return
        want = self.expected[path]
        out.check(got == want, f"{path}: {len(got)} rows served, {len(want)} expected")


def _request(conn_box: list, port: int, load: Load, path: str, out: Outcome):
    """Send one request; returns (status ok, raw body) and counts it."""
    with load.lock:
        out.attempted += 1
    try:
        if conn_box[0] is None:
            conn_box[0] = Connection(port)
        status, chunked, body = conn_box[0].get(path)
        ok = status == 200
    except (OSError, ValueError) as e:
        if conn_box[0] is not None:
            conn_box[0].close()
        conn_box[0] = None
        ok, chunked, body = False, False, repr(e).encode()
    if ok:
        load.keep(path, chunked, body)
    else:
        with load.lock:
            out.failed += 1
        out.check(False, f"{path}: failed ({body[:120]!r})")
    return ok, body


def open_loop(port: int, load: Load, seconds: float, out: Outcome) -> list[dict]:
    """Requests due every 1/RATE seconds for ``seconds``, dealt round-robin
    to the connections; a request waits for its connection, and its
    latency runs from when it was due. Fixed dealing keeps each
    connection's idle gaps, and so its TCP acknowledgement pattern, the
    same from run to run."""
    schedule = []
    for k in range(int(seconds * RATE)):
        kind = MIX[k % len(MIX)]
        schedule.append((k / RATE, kind, load.path(kind)))
    records: list[dict] = []
    t0 = time.perf_counter() + 0.05

    def worker(c: int) -> None:
        box = [None]
        for at, kind, path in schedule[c::CONNECTIONS]:
            due = t0 + at
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            start = time.perf_counter()
            ok, body = _request(box, port, load, path, out)
            end = time.perf_counter()
            if ok:
                records.append(
                    {"kind": kind, "path": path, "late": start - due,
                     "latency": end - due, "bytes": len(body)}
                )
        _close(box)

    _run_threads(worker)
    return records


def closed_loop(port: int, load: Load, seconds: float, out: Outcome) -> tuple[int, float]:
    """Each connection sends the mix back to back; returns the requests
    completed and the seconds they took."""
    paths = [[load.path(MIX[(c * 3 + i) % len(MIX)]) for i in range(len(MIX))]
             for c in range(CONNECTIONS)]
    done = [0]
    t0 = time.perf_counter()
    deadline = t0 + seconds
    ends = []

    def worker(c: int) -> None:
        box = [None]
        i = 0
        while time.perf_counter() < deadline:
            ok, _ = _request(box, port, load, paths[c][i % len(MIX)], out)
            i += 1
            with load.lock:
                done[0] += ok
        ends.append(time.perf_counter())
        _close(box)

    _run_threads(worker)
    return done[0], max(ends) - t0


def _run_threads(fn) -> None:
    threads = [threading.Thread(target=fn, args=(c,)) for c in range(CONNECTIONS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _close(box: list) -> None:
    if box[0] is not None:
        box[0].close()


def _sequential_ms(port: int, load: Load, paths: list[str], out: Outcome) -> float:
    box = [None]
    times = []
    for path in paths:
        t0 = time.perf_counter()
        ok, _ = _request(box, port, load, path, out)
        if ok:
            times.append(1000 * (time.perf_counter() - t0))
    _close(box)
    return median(times) if times else 0.0


def _wsgi_ms(export: str, load: Load, paths: list[str], out: Outcome) -> float:
    """In-process WSGI calls, no socket; each body is checked too."""
    from oil_wells_data_wrangling_spark.wsgi import make_wsgi_app

    app = make_wsgi_app(export)
    times = []
    for path in paths:
        p, _, q = path.partition("?")
        t0 = time.perf_counter()
        body = b"".join(app({"PATH_INFO": p, "QUERY_STRING": q}, lambda *a: None))
        times.append(1000 * (time.perf_counter() - t0))
        load.check_rows(out, path, body)
    return median(times)


# -------------------------------------------------------------------- run

def run(ctx: Context) -> Outcome:
    from oil_wells_data_wrangling_spark.sources.sinks import export_json

    rows = corpus.wells_rows(DATA_SEED, N_ROWS)
    schema = ", ".join(f"{c} {'double' if c in _DOUBLE else 'string'}" for c in _COLUMNS)
    source = os.path.join(ctx.work_dir, "rows.json")
    with open(source, "w", encoding="utf-8") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    export = os.path.join(ctx.work_dir, "export")

    def prepare(spark) -> None:
        with ctx.tracer.span("sinks.export_json", "setup"):
            export_json(spark.read.schema(schema).json(source), export, partition_col="cell")

    out = Outcome()
    load = Load(rows, ctx.seed)
    spark, setup_s, get_spark_s = start_sessions(ctx, prepare)
    try:
        session_layers(out, setup_s, get_spark_s)
    finally:
        stop_spark(spark)

    # Start the tier SERVER_STARTS times, each timed to the end of its
    # first full /wells response (what the map page fetches on load);
    # the last one then takes the load.
    first_s, server = [], None
    try:
        for _ in range(SERVER_STARTS):
            if server is not None:
                server.stop()
            t0 = time.perf_counter()
            server = Server(export)
            box = [None]
            _request(box, server.port, load, "/wells", out)
            _close(box)
            first_s.append(time.perf_counter() - t0)
        records = open_loop(server.port, load, ctx.seconds, out)
        done, busy = closed_loop(server.port, load, ctx.seconds, out)
        if ctx.trace:
            for kind in ("full", "viewport", "filter"):
                paths = [load.path(kind) for _ in range(7)]
                out.layers[f"serving.{kind}.service_ms"] = _sequential_ms(
                    server.port, load, paths, out
                )
                if kind != "filter":
                    out.layers[f"wsgi.{kind}.ms"] = _wsgi_ms(export, load, paths, out)
    finally:
        if server is not None:
            server.stop()
    load.verify(out)

    out.layers["cold.first_s"] = median(first_s)
    out.e2e["per_s"] = done / busy
    if records:
        by_kind = {k: [1000 * r["latency"] for r in records if r["kind"] == k] for k in set(MIX)}
        # The full fetch is what the map page waits on. Its latency is
        # bimodal: a response whose last chunk waits out the client's
        # delayed ACK takes ~30 ms longer. The median flips between the two
        # modes from run to run; the mean counts the stalls in proportion.
        out.e2e["latency_ms"] = statistics.mean(by_kind["full"])
        out.samples = {
            "latency_ms": len(by_kind["full"]),
            "per_s": done,
            "setup_s": len(setup_s),
        }
        for kind, q in (("full", 90), ("viewport", 90)):
            out.layers[f"serving.{kind}.p50_ms"] = median(by_kind[kind])
            out.layers[f"serving.{kind}.p{q}_ms"] = percentile(by_kind[kind], q)
        out.layers["serving.generator_late_ms"] = 1000 * percentile(
            [r["late"] for r in records], 90
        )
        returned = sum(len(load.expected[r["path"]]) for r in records)
        out.layers["serving.bytes_per_row"] = sum(r["bytes"] for r in records) / returned
        out.layers["serving.rows_scanned_per_row_returned"] = (
            sum(load.scanned(r["path"]) for r in records) / returned
        )
    out.layers["sinks.export_json.s"] = ctx.tracer.warm_median("sinks.export_json")
    files = [os.path.join(d, f) for d, _, fs in os.walk(export) for f in fs if f.startswith("part-")]
    out.layers["sinks.export_json.files"] = len(files)
    out.layers["sinks.export_json.bytes"] = sum(os.path.getsize(f) for f in files)
    return out
