"""Server process for the sql_mixed workload.

Boots ``emdrive_spark.server.serve`` on an ephemeral port with a durable
data directory, writes the bound port to ``<work>/port.boot`` and serves.
SIGUSR1 drains it and serves again from a fresh ``Engine`` that restores
the catalog from the data directory (port in ``<work>/port.restart``);
SIGTERM drains in-flight requests and stops Spark.

Every failed statement's error class and detail line are appended to
``<work>/errors.jsonl`` under the client's ``X-Bench-Id``. With
``--trace 1`` it also records spans around the calls the request
path makes into each module's public functions (statement split and
parse, ``Engine.execute``, ``Catalog.insert``/``save`` and
``DataFrame.collect``), tags every Spark job with the
client's ``X-Bench-Id`` as job group, writes an uncompressed event log,
and dumps the spans to ``<work>/spans.json`` on shutdown.

Usage: python3 perfbench/serve.py <work dir> <data dir> <trace 0|1>
"""

from __future__ import annotations

import functools
import json
import os
import re
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, Spans, dir_bytes, spark_conf, stop_spark  # noqa: E402

sys.path.insert(0, ROOT)


_ERROR_CLASS = re.compile(r"\[([A-Z][A-Z_]*(?:\.[A-Z][A-Z_]*)*)\]")


def error_detail(exc: BaseException) -> dict:
    """Error class and the first line naming it, from an exception whose
    first line (all the HTTP response carries) may be a bare Py4J
    wrapper."""
    text = str(exc)
    m = _ERROR_CLASS.search(text)
    line = next((ln.strip() for ln in text.splitlines() if m and m.group(0) in ln), "")
    return {"error_class": m.group(1) if m else type(exc).__name__, "detail": line[:500]}


def _instrument(spans: Spans, spark, trace: bool, errors_path: str) -> None:
    """Record the full error of every failed statement under the client's
    ``X-Bench-Id``; with ``trace`` also wrap the request path's public
    entry points with span recorders and tag Spark jobs per request."""
    from emdrive_spark import catalog, engine, server

    tls = threading.local()
    errors_lock = threading.Lock()

    def wrap(owner, attr, name, after=None):
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rid = getattr(tls, "rid", None)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                if rid is not None:
                    extra = after(*args) if after else {}
                    spans.record(name, t0, time.time(), rid=rid, **extra)

        setattr(owner, attr, traced)

    def capture(owner, attr):
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def captured(*args, **kwargs):
            try:
                return fn(*args, **kwargs)
            except Exception as exc:
                rec = {"rid": getattr(tls, "rid", None), **error_detail(exc)}
                with errors_lock, open(errors_path, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                raise

        setattr(owner, attr, captured)

    capture(engine.Engine, "execute_script")
    capture(server, "_rows_json")
    if trace:
        from pyspark.sql.classic.dataframe import DataFrame

        def saved_bytes(_self, root):
            return {"bytes": dir_bytes(root)[0]}

        wrap(engine, "split_statements", "sql.split")
        wrap(engine, "parse_statement", "sql.parse")
        wrap(engine.Engine, "execute", "engine.execute")
        wrap(catalog.Catalog, "insert", "catalog.insert")
        wrap(catalog.Catalog, "save", "catalog.save", after=saved_bytes)
        wrap(DataFrame, "collect", "spark.collect")

    make_handler = server.make_handler

    def tagged_make_handler(*args, **kwargs):
        base = make_handler(*args, **kwargs)

        class Handler(base):
            def _run(self, sql, read_only):
                tls.rid = self.headers.get("X-Bench-Id")
                if trace:
                    spark.sparkContext.setJobGroup(tls.rid or "", tls.rid or "")
                try:
                    return super()._run(sql, read_only)
                finally:
                    tls.rid = None

        return Handler

    server.make_handler = tagged_make_handler


def main(work: str, data_dir: str, trace: bool) -> int:
    from emdrive_spark import server
    from emdrive_spark.session import get_spark

    spans = Spans()
    t0 = time.time()
    spark = get_spark("perfbench-server", extra_conf=spark_conf(os.path.join(work, "spark"), trace))
    spans.record("session.start", t0, time.time(), rid=None)
    _instrument(spans, spark, trace, os.path.join(work, "errors.jsonl"))
    current: list = []
    restart = threading.Event()

    def on_restart(signum, frame):  # noqa: ARG001
        restart.set()
        threading.Thread(target=current[0].shutdown, daemon=True).start()

    signal.signal(signal.SIGUSR1, on_restart)
    try:
        for tag in ("boot", "restart"):
            # A fresh Engine restores its catalog from the data directory.
            # The old Engine's temp views go first, so that only tables
            # read back from the data directory can answer a query.
            for t in spark.catalog.listTables():
                if t.isTemporary:
                    spark.catalog.dropTempView(t.name)
            httpd = server.serve(spark, host="127.0.0.1", port=0, data_directory=data_dir)
            current[:] = [httpd]
            server.install_shutdown_handlers(httpd)
            port_file = os.path.join(work, f"port.{tag}")
            with open(port_file + ".tmp", "w") as f:
                f.write(str(httpd.server_address[1]))
            os.replace(port_file + ".tmp", port_file)
            httpd.serve_forever()
            httpd.server_close()  # drains in-flight requests
            if not restart.is_set():
                break
            restart.clear()
    finally:
        stop_spark(spark)
        if trace:
            spans.dump(os.path.join(work, "spans.json"))
    return 0


if __name__ == "__main__":
    work, data_dir, trace = sys.argv[1:4]
    raise SystemExit(main(work, data_dir, trace == "1"))
