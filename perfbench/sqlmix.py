"""sql_mixed: the emdrive user path over HTTP.

One durable server process (``serve.py``) holds a preloaded ``photos``
table. A closed loop of ``nproc`` client threads in this process, with
no think time, sends seeded statements: about 60% GET SELECTs (distance
threshold, distance top-10, primary-key lookup and an ANSI count with
``@``) and 40% POST INSERT batches of 100 rows. Every response is kept
and checked after the measured part against a brute-force evaluation
over the rows acknowledged before the request was sent; rows of inserts
still in flight may appear or be absent. A failed request is counted and
recorded, never retried. After the measured part the server restarts
from its data directory (a fresh ``Engine`` in the same process) and
every acknowledged row must be there.

The clients send one statement at a time: a lock in this process
serializes them, as the reference's single executor loop does, so the
client count sets how long a statement queues, not how many run at
once. The server does not keep a read from overlapping the save that
follows an INSERT; such a read fails with
``FAILED_READ_FILE.FILE_NOT_EXIST`` at random, so a run's failure count
would differ between runs of the same code. A statement's latency runs
from before the lock to the response. With ``--trace 1`` a race probe
follows the measured part: one block per client sent without the lock.
Its failures and their records are in the report line under
``race_probe``, apart from the run's ``failed``.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import signal
import subprocess
import sys
import threading
import time
import urllib.parse
from contextlib import nullcontext

from common import (
    Ledger, TreeMeter, bytes_ratio, dir_bytes, event_log, host_ticks, median, metric,
    nproc, steal_share, tail,
)

TABLE = "photos"
DDL = (
    f"CREATE TABLE {TABLE} (id UINT64 PRIMARY KEY, "
    "hash UINT64 METRIC KEY USING mtree(hamming), url STRING, width UINT32, "
    "seen_at TIMESTAMP DEFAULT NOW())"
)
PRELOAD_ROWS = 4000  # sent as one INSERT
INSERT_BATCH = 100
CLUSTERS = 64
ROW_FLIP_P = 0.06  # per-bit flip probability of a row hash around its cluster
SELECT_KINDS = ("threshold", "topk", "pk", "count")
# Each client sends blocks of 3 SELECTs and 2 INSERTs in seeded order,
# SELECT kinds taken round-robin, so every prefix of its sequence keeps
# the 60/40 read/write mix and the four SELECT kinds equally often.
BLOCK = ("select", "select", "select", "insert", "insert")
WIDTHS = (320, 640, 800, 1024, 1280, 1920)
ID_STRIDE = 10**9  # id block per client, so clients never clash
# Warm-up: one block per client, so every statement kind has run before
# the measured part. The race probe of a traced run is as long.
WARM_PER_CLIENT = len(BLOCK)
PROBE_PER_CLIENT = len(BLOCK)
BOOT_TIMEOUT_S = 120


# -- seeded statements -----------------------------------------------------

class PhotoGen:
    """Row and statement generator. One seed gives one set of cluster
    centres, one preload and, per client, one statement sequence."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = random.Random(seed)
        self.centers = [rng.getrandbits(64) for _ in range(CLUSTERS)]

    def row(self, rng: random.Random, row_id: int) -> tuple:
        noise = 0
        for bit in range(64):
            if rng.random() < ROW_FLIP_P:
                noise |= 1 << bit
        h = self.centers[rng.randrange(CLUSTERS)] ^ noise
        return (row_id, h, f"https://img.example/{row_id:x}.png", rng.choice(WIDTHS))

    def preload(self) -> list[tuple]:
        rng = random.Random(f"{self.seed}/preload")
        return [self.row(rng, i) for i in range(PRELOAD_ROWS)]

    def statements(self, client: int):
        """Endless statement sequence of one client: (kind, sql, params)."""
        rng = random.Random(f"{self.seed}/client{client}")
        next_id = PRELOAD_ROWS + (client + 1) * ID_STRIDE
        own: list[int] = []
        kinds: list[str] = []
        n_select = rng.randrange(len(SELECT_KINDS))
        while True:
            if not kinds:
                kinds = rng.sample(BLOCK, len(BLOCK))
            kind = kinds.pop()
            if kind == "select":
                kind = SELECT_KINDS[n_select % len(SELECT_KINDS)]
                n_select += 1
            if kind == "insert":
                rows = [self.row(rng, next_id + j) for j in range(INSERT_BATCH)]
                next_id += INSERT_BATCH
                own.extend(r[0] for r in rows)
                yield kind, insert_sql(rows), {"rows": rows}
                continue
            if kind == "pk":
                roll = rng.random()
                if roll < 0.7 or not own:
                    x = rng.randrange(PRELOAD_ROWS)
                elif roll < 0.9:
                    x = rng.choice(own)
                else:
                    x = (1 << 62) + rng.getrandbits(32)  # never inserted
                yield kind, f"SELECT id, hash, url, width FROM {TABLE} WHERE id = {x}", {"x": x}
                continue
            q = self.centers[rng.randrange(CLUSTERS)] ^ (1 << rng.randrange(64)) ^ (1 << rng.randrange(64))
            k = rng.choice((8, 10, 12, 14))
            if kind == "threshold":
                sql = f"SELECT id, hash @ {q} AS d FROM {TABLE} WHERE d < {k}"
            elif kind == "topk":
                sql = f"SELECT id, hash @ {q} AS d FROM {TABLE} ORDER BY d LIMIT 10"
            else:
                sql = f"SELECT count(*) AS n FROM {TABLE} WHERE hash @ {q} < {k}"
            yield kind, sql, {"q": q, "k": k}


def insert_sql(rows) -> str:
    values = ", ".join(f"({i}, {h}, '{u}', {w})" for i, h, u, w in rows)
    return f"INSERT INTO {TABLE} (id, hash, url, width) VALUES {values}"


def row_bytes(row: tuple) -> int:
    """User bytes of one row: fixed-width id, hash, width and seen_at,
    plus the url's UTF-8 bytes."""
    return 8 + 8 + 4 + 8 + len(row[2].encode())


# -- the server process ----------------------------------------------------

class Server:
    """The ``serve.py`` process: boots, restarts in place from its data
    directory on ``restart()``, and stops on ``stop()``."""

    def __init__(self, work: str, data_dir: str, trace: bool):
        self.work = work
        self.log = open(os.path.join(work, "server.log"), "w")
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "serve.py"), work, data_dir, "1" if trace else "0"],
            stdout=self.log, stderr=subprocess.STDOUT,
        )
        self.port = self._await_port("boot")

    def _await_port(self, tag: str) -> int:
        path = os.path.join(self.work, f"port.{tag}")
        deadline = time.monotonic() + BOOT_TIMEOUT_S
        while not os.path.exists(path):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                self.stop()
                raise RuntimeError(f"server ({tag}) did not start; see {self.log.name}")
            time.sleep(0.05)
        with open(path) as f:
            return int(f.read())

    def restart(self) -> None:
        self.proc.send_signal(signal.SIGUSR1)
        self.port = self._await_port("restart")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


def request(port: int, sql: str, post: bool, rid: str) -> tuple[int, dict, int | None]:
    """One statement over HTTP: (status, JSON body, server-side elapsed µs)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        headers = {"X-Bench-Id": rid}
        if post:
            conn.request("POST", "/", body=sql.encode(), headers=headers)
        else:
            conn.request("GET", "/?query=" + urllib.parse.quote(sql), headers=headers)
        resp = conn.getresponse()
        body = json.loads(resp.read() or b"{}")
        elapsed = resp.getheader("X-Elapsed-Us")
        return resp.status, body, int(elapsed) if elapsed else None
    finally:
        conn.close()


# -- client-side model and checks -----------------------------------------

class Model:
    """Rows sent and rows acknowledged, both append-only, so a request
    can note how many of each existed when it was sent or answered."""

    def __init__(self):
        self.lock = threading.Lock()
        self.sent: list[tuple] = []
        self.acked: list[tuple] = []


def check(rec: dict, model: Model) -> str | None:
    """None when the response agrees with a brute-force evaluation;
    otherwise the reason it does not."""
    kind, body, p = rec["kind"], rec["body"], rec["params"]
    if kind == "insert":
        return None
    definite = model.acked[: rec["acked_at_send"]]
    possible = {r[0]: r for r in model.sent[: rec["sent_at_recv"]]}
    rows = body.get("rows", [])
    if kind == "pk":
        x = p["x"]
        want = next((r for r in definite if r[0] == x), None)
        got = [(int(r["id"]), int(r["hash"]), r["url"], int(r["width"])) for r in rows]
        if want is not None:
            return None if got == [want] else f"pk {x}: got {got[:1]}"
        if x in possible:
            return None if got in ([], [possible[x]]) else f"pk {x}: got {got[:1]}"
        return None if not got else f"pk {x}: absent id returned"
    q, k = p["q"], p["k"]
    if kind == "count":
        n = int(rows[0]["n"]) if rows else -1
        lo = sum(1 for r in definite if (r[1] ^ q).bit_count() < k)
        hi = sum(1 for r in possible.values() if (r[1] ^ q).bit_count() < k)
        return None if lo <= n <= hi else f"count {n} outside [{lo}, {hi}]"
    got = {}
    for r in rows:
        rid = int(r["id"])
        if rid not in possible or (possible[rid][1] ^ q).bit_count() != int(r["d"]):
            return f"{kind}: wrong row or distance for id {rid}"
        got[rid] = int(r["d"])
    if kind == "threshold":
        if any(d >= k for d in got.values()):
            return "threshold: row at or beyond k"
        missing = [r[0] for r in definite if (r[1] ^ q).bit_count() < k and r[0] not in got]
        return f"threshold: {len(missing)} acknowledged rows missing" if missing else None
    ds = [int(r["d"]) for r in rows]
    if len(rows) != 10 or ds != sorted(ds):
        return f"topk: {len(rows)} rows, order {ds}"
    missing = [r[0] for r in definite if (r[1] ^ q).bit_count() < ds[-1] and r[0] not in got]
    return f"topk: {len(missing)} closer acknowledged rows missing" if missing else None


# -- the workload ------------------------------------------------------------

def _send(port: int, model: Model, kind: str, sql: str, params: dict, rid: str,
          lock: threading.Lock | None = None) -> dict:
    """One statement, holding ``lock`` when given. ``queued`` is when it
    asked for the lock, ``t0`` when it was sent, ``t1`` when answered."""
    post = kind in ("insert", "ddl")
    rows = params.get("rows", [])
    queued = time.perf_counter()
    with lock if lock is not None else nullcontext():
        with model.lock:
            model.sent.extend(rows)
            acked_at_send = len(model.acked)
        t0 = time.perf_counter()
        try:
            status, body, elapsed = request(port, sql, post, rid)
        except (OSError, http.client.HTTPException, ValueError) as exc:
            status, body, elapsed = "conn", {"message": f"{type(exc).__name__}: {exc}"}, None
        t1 = time.perf_counter()
        with model.lock:
            if status == 200:
                model.acked.extend(rows)
            sent_at_recv = len(model.sent)
    return {
        "kind": kind, "rid": rid, "queued": queued, "t0": t0, "t1": t1, "status": status,
        "body": body, "elapsed_us": elapsed, "params": params,
        "acked_at_send": acked_at_send, "sent_at_recv": sent_at_recv,
    }


def _closed_loop(port: int, model: Model, streams, stop, prefix: str,
                 lock: threading.Lock | None) -> list[list[dict]]:
    """One thread per statement stream, each sending its next statement
    as soon as the previous one is answered, until ``stop(n_sent)``.
    Request ids are ``<prefix><stream>-<n>``."""
    out: list[list[dict]] = [[] for _ in streams]

    def client(c: int) -> None:
        while not stop(len(out[c])):
            kind, sql, params = next(streams[c])
            out[c].append(_send(port, model, kind, sql, params, f"{prefix}{c}-{len(out[c])}", lock))

    threads = [threading.Thread(target=client, args=(c,)) for c in range(len(streams))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    gen = PhotoGen(seed)
    model = Model()
    ledger = Ledger(workload)
    data_dir = os.path.join(work, "data")
    n_clients = nproc()
    lock = threading.Lock()

    t_setup = time.perf_counter()
    srv = Server(work, data_dir, trace)
    phases = {"boot_s": time.perf_counter() - t_setup}
    try:
        with TreeMeter(srv.proc.pid) as meter:
            boot = _send(srv.port, model, "ddl", DDL, {}, "setup-ddl")
            if boot["status"] != 200:
                raise RuntimeError(f"CREATE TABLE failed: {boot['body']}")
            rows = gen.preload()
            rec = _send(srv.port, model, "insert", insert_sql(rows), {"rows": rows}, "setup-preload")
            if rec["status"] != 200:
                raise RuntimeError(f"preload failed: {rec['body']}")
            phases["preload_s"] = time.perf_counter() - t_setup - phases["boot_s"]
            # Warm-up: the same closed loop for a fixed number of
            # statements per client; the responses are checked too.
            warm = _closed_loop(
                srv.port, model, [gen.statements(n_clients + c) for c in range(n_clients)],
                lambda n: n >= WARM_PER_CLIENT, "w", lock,
            )
            setup_s = time.perf_counter() - t_setup
            phases["warm_s"] = setup_s - phases["boot_s"] - phases["preload_s"]

            cpu0, ticks0 = meter.cpu(), host_ticks()
            t0 = time.perf_counter()
            deadline = t0 + seconds
            timed = _closed_loop(
                srv.port, model, [gen.statements(c) for c in range(n_clients)],
                lambda _n: time.perf_counter() >= deadline, "c", lock,
            )
            cpu_s = meter.cpu() - cpu0
            steal = steal_share(ticks0, host_ticks())
            t_end = time.perf_counter()
            probe = []
            if trace:
                probe = _closed_loop(
                    srv.port, model, [gen.statements(2 * n_clients + c) for c in range(n_clients)],
                    lambda n: n >= PROBE_PER_CLIENT, "p", None,
                )
        stored, _files = dir_bytes(data_dir)
        # Durability: a fresh Engine restores the catalog from the data
        # directory; every acknowledged row must be back.
        srv.restart()
        status, body, _ = request(srv.port, f"SELECT id FROM {TABLE}", False, "restart-scan")
    finally:
        srv.stop()
    peak_rss = meter.peak_rss
    if status != 200:
        ledger.fail("restart", status, body.get("message", ""))
    else:
        present = {int(r["id"]) for r in body["rows"]}
        lost = [r[0] for r in model.acked if r[0] not in present]
        if lost:
            ledger.fail("restart", "lost", f"{len(lost)} acknowledged rows lost, e.g. id {lost[0]}")
        else:
            ledger.ok()

    records = [r for recs in warm for r in recs]
    timed_recs = [r for recs in timed for r in recs]
    probe_recs = [r for recs in probe for r in recs]
    with open(os.path.join(work, "requests.json"), "w") as f:
        json.dump([
            {"rid": r["rid"], "kind": r["kind"], "status": r["status"],
             "sent_s": r["t0"] - t0, "latency_ms": (r["t1"] - r["queued"]) * 1e3,
             "wait_ms": (r["t0"] - r["queued"]) * 1e3}
            for r in records + timed_recs + probe_recs
        ], f)
    server_errors = _server_errors(os.path.join(work, "errors.jsonl"))
    # A failed request of the race probe goes to its own ledger; a wrong
    # answer from any request makes the run incorrect.
    race = Ledger(f"{workload} race probe")
    for recs, led in ((records + timed_recs, ledger), (probe_recs, race)):
        for rec in recs:
            if rec["status"] != 200:
                led.fail(rec["kind"], rec["status"], rec["body"].get("message", ""),
                         rid=rec["rid"], **server_errors.get(rec["rid"], {}))
                continue
            reason = check(rec, model)
            if reason:
                ledger.fail(rec["kind"], "mismatch", reason)
            else:
                led.ok()

    ok = [r for r in timed_recs if r["status"] == 200]
    # Every request sent before the deadline completes; throughput counts
    # them all over the time until the last one finished.
    rate = len(timed_recs) / (max(r["t1"] for r in timed_recs) - t0)
    lat = {k: [(r["t1"] - r["queued"]) * 1e3 for r in ok if (r["kind"] == "insert") == (k == "insert")]
           for k in ("select", "insert")}
    user_bytes = sum(row_bytes(r) for r in model.acked)
    report = {
        "requests_per_s": metric(rate, "1/s"),
        "stored_bytes_per_user_byte": metric(bytes_ratio(stored, user_bytes), "ratio"),
        "cpu_s": metric(cpu_s, "s"),
        "peak_rss_mb": metric(peak_rss / 2**20, "MB"),
        "steal_share": steal,
        "timed_s": t_end - t0,
        "setup_phases_s": phases,
        "clients": n_clients,
    }
    if trace:
        report["race_probe"] = {
            "attempted": race.attempted, "failed": race.failed, "failures": race.records}
    for k, xs in lat.items():
        report[f"{k}_p50_ms"] = metric(median(xs) if xs else None, "ms")
        tl = tail(xs)
        report[f"{k}_tail_ms"] = None if tl is None else {
            "level": tl[0], "value": tl[1], "unit": "ms", "n": len(xs)}
    e2e = {
        "setup_s": metric(setup_s, "s"),
        # Mean over every answered statement, SELECT and INSERT. A run has
        # about 20 of each kind; on a 4-vCPU host the SELECT median alone
        # spread 0.2-0.27 (IQR/median over 10 seeds), and the mean over
        # both, on the same runs, 0.13-0.18.
        "op_ms": metric(sum(lat["select"] + lat["insert"]) / len(ok), "ms"),
        "cpu_ms_per_op": metric(cpu_s * 1e3 / len(timed_recs), "ms"),
    }
    layers = {}
    if trace:
        layers, report["layers"] = _layer_metrics(work, ok, data_dir)
        layers["session.peak_rss_mb"] = peak_rss / 2**20
    return {
        "ledger": ledger, "spans": None, "report": report, "e2e": e2e,
        "layers": layers, "fixture_dir": None,
    }


def _server_errors(path: str) -> dict[str, dict]:
    """Server-side error class and detail line per request id."""
    if not os.path.exists(path):
        return {}
    out = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            out.setdefault(rec.pop("rid"), rec)
    return out


def _layer_metrics(work: str, ok: list[dict], data_dir: str) -> tuple[dict, dict]:
    """(per-layer metrics every workload has, this workload's own)."""
    from eventlog import op_layers, reduce_file

    with open(os.path.join(work, "spans.json")) as f:
        spans = json.load(f)
    groups = reduce_file(event_log(os.path.join(work, "spark")))
    with open(os.path.join(work, "eventlog_summary.json"), "w") as f:
        json.dump(groups, f)
    by_rid: dict[str, list[dict]] = {}
    for s in spans:
        by_rid.setdefault(s["rid"], []).append(s)

    def span_ms(rid: str, *names: str) -> float:
        return sum((s["end"] - s["start"]) * 1e3 for s in by_rid.get(rid, []) if s["name"] in names)

    sel = [r for r in ok if r["kind"] != "insert"]
    ins = [r for r in ok if r["kind"] == "insert"]
    rids = {r["rid"] for r in ok}
    mutations = sorted(
        (s["start"], s["end"], s["rid"]) for s in spans
        if s["name"] in ("catalog.insert", "catalog.save") and s["rid"] in rids
    )
    waits = []
    for r in ins:
        mine = [s for s in by_rid.get(r["rid"], []) if s["name"] == "catalog.insert"]
        if not mine:
            continue
        a, b = mine[0]["start"], mine[0]["end"]
        busy = [(max(a, s), min(b, e)) for s, e, rid in mutations if rid != r["rid"] and s < a < e]
        waits.append(sum(max(0.0, e - s) for s, e in busy) * 1e3)
    saves = [s for s in spans if s["name"] == "catalog.save" and s["rid"] in rids]
    ins_bytes = sum(row_bytes(row) for r in ins for row in r["params"]["rows"])
    _total, files = dir_bytes(os.path.join(data_dir, "main", TABLE))
    start = next(s for s in spans if s["name"] == "session.start")

    def med(xs) -> float:
        return median(xs) if xs else 0.0

    def span(rid: str, name: str):
        s = next((s for s in by_rid.get(rid, []) if s["name"] == name), None)
        return None if s is None else (s["start"], s["end"])

    common = op_layers([
        {"groups": [r["rid"]], "build": span(r["rid"], "engine.execute"),
         "exec": span(r["rid"], "spark.collect")}
        for r in ok if span(r["rid"], "engine.execute")
    ], groups)
    common["session.start_s"] = start["end"] - start["start"]
    own = {
        "sql.parse_ms": med([span_ms(r["rid"], "sql.split", "sql.parse") for r in sel]),
        "server.overhead_ms": med(
            [(r["t1"] - r["t0"]) * 1e3 - r["elapsed_us"] / 1e3 for r in ok if r["elapsed_us"]]),
        "server.serialize_ms": med([
            r["elapsed_us"] / 1e3 - span_ms(r["rid"], "engine.execute", "sql.split", "spark.collect")
            for r in sel if r["elapsed_us"]]),
        "engine.select_build_ms": med([span_ms(r["rid"], "engine.execute") for r in sel]),
        "spark.collect_ms": med([span_ms(r["rid"], "spark.collect") for r in sel]),
        "spark.jobs_per_select": sum(groups.get(r["rid"], {}).get("jobs", 0) for r in sel) / max(len(sel), 1),
        "spark.jobs_per_insert": sum(groups.get(r["rid"], {}).get("jobs", 0) for r in ins) / max(len(ins), 1),
        "catalog.insert_ms": med([span_ms(r["rid"], "catalog.insert") for r in ins]),
        "catalog.save_ms": med([(s["end"] - s["start"]) * 1e3 for s in saves]),
        "catalog.save_bytes_per_user_byte": sum(s["bytes"] for s in saves) / ins_bytes if ins_bytes else 0.0,
        "catalog.lock_wait_ms": sum(waits) / len(waits) if waits else 0.0,
        "catalog.table_files": files,
    }
    return common, own
