"""HTTP endpoint round-trip — the reference's working query path
(POST / with SQL body, /root/reference/src/server/mod.rs:101-113) and
the GET read-only path (:114-122), including the error JSON taxonomy."""

from __future__ import annotations

import json
import threading
import urllib.parse
import urllib.request

import pytest

from emdrive_spark.server import serve


@pytest.fixture(scope="module")
def endpoint(spark):
    httpd = serve(spark, host="127.0.0.1", port=18824)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield "http://127.0.0.1:18824"
    httpd.shutdown()


def _post(url: str, sql: str):
    req = urllib.request.Request(url, data=sql.encode(), method="POST")
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read()), dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read()), dict(e.headers)


def test_post_roundtrip(endpoint):
    status, body, headers = _post(
        endpoint,
        "CREATE TABLE ht (id UINT32 PRIMARY KEY, name STRING);"
        "INSERT INTO ht (id, name) VALUES (1, 'one'), (2, 'two');"
        "SELECT name FROM ht WHERE id = 2",
    )
    assert status == 200
    assert body["column_names"] == ["name"]
    assert body["rows"] == [{"name": "two"}]
    assert len(headers["X-Request-Id"]) == 26  # per-request ULID
    assert int(headers["X-Elapsed-Us"]) > 0  # µs timing (server/mod.rs:132-136)


def test_syntax_error_400(endpoint):
    status, body, _ = _post(endpoint, "SELEKT 1")
    assert status == 400
    assert body["type"] == "syntax"
    assert "Expected" in body["message"]


def test_validation_error_400(endpoint):
    status, body, _ = _post(endpoint, "SELECT x FROM no_such_table")
    assert status == 400
    assert body["type"] == "validation"
    assert "does not exist" in body["message"]


def test_get_is_read_only(endpoint):
    q = urllib.parse.quote("CREATE TABLE evil (id UINT32 PRIMARY KEY)")
    try:
        with urllib.request.urlopen(f"{endpoint}/?query={q}") as resp:
            status, body = resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        status, body = e.code, json.loads(e.read())
    assert status in (400, 500)
    assert "read-only" in body["message"]


def test_get_select(endpoint):
    q = urllib.parse.quote("SELECT name FROM ht WHERE id = 1")
    with urllib.request.urlopen(f"{endpoint}/?query={q}") as resp:
        body = json.loads(resp.read())
    assert body["rows"] == [{"name": "one"}]


def test_get_allows_with_query_form(endpoint):
    # WITH is a read-only query form (engine.QUERY_HEADS) — must work on GET
    q = urllib.parse.quote("WITH t AS (SELECT 2 AS x) SELECT x FROM t")
    with urllib.request.urlopen(f"{endpoint}/?query={q}") as resp:
        body = json.loads(resp.read())
    assert body["rows"] == [{"x": 2}]


def test_get_rejects_multi_statement_mutation(endpoint):
    # per-statement enforcement: a SELECT prefix must not smuggle DML
    q = urllib.parse.quote("SELECT name FROM ht; INSERT INTO ht (id, name) VALUES (99, 'evil')")
    try:
        with urllib.request.urlopen(f"{endpoint}/?query={q}") as resp:
            status = resp.status
    except urllib.error.HTTPError as e:
        status = e.code
    assert status == 400
    # and the table is unchanged
    q2 = urllib.parse.quote("SELECT name FROM ht WHERE id = 99")
    with urllib.request.urlopen(f"{endpoint}/?query={q2}") as resp:
        assert json.loads(resp.read())["rows"] == []


def test_request_log_stream(endpoint, caplog):
    # one structured INFO line per answered request: the ULID that rides
    # X-Request-Id, statement kind, status, result rows and µs elapsed
    # (the reference logs id and µs, server/mod.rs:97-99,132-136)
    import logging
    import re

    with caplog.at_level(logging.INFO, logger="emdrive_spark.server"):
        _, _, ok = _post(endpoint, "SELECT name FROM ht WHERE id = 1")
        _, _, bad = _post(endpoint, "SELECT x FROM no_such_table")
    lines = [r.getMessage() for r in caplog.records if r.name == "emdrive_spark.server"]
    for headers, status, rows in ((ok, 200, 1), (bad, 400, 0)):
        rid = headers["X-Request-Id"]
        (line,) = [m for m in lines if f"id={rid} " in m]
        assert re.fullmatch(
            rf"request id={rid} kind=SELECT status={status} rows={rows} us=\d+", line
        ), line


def test_result_cap_413_and_at_cap_ok(spark, monkeypatch):
    """A no-LIMIT SELECT past EMDRIVE_MAX_RESULT_ROWS must NOT
    unbounded-collect on the driver (r9 verdict item 4): the cap rides
    inside the plan (limit cap+1) and the overflow returns the same
    typed-413 shape as the request-body ceiling. A result exactly AT
    the cap still returns 200 with every row — the limit is a guard,
    not a silent truncation."""
    monkeypatch.setenv("EMDRIVE_MAX_RESULT_ROWS", "5")
    httpd = serve(spark, host="127.0.0.1", port=18825)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    url = "http://127.0.0.1:18825"
    try:
        values = ", ".join(f"({i})" for i in range(1, 11))
        status, body, _ = _post(
            url,
            "CREATE TABLE capt (id UINT32 PRIMARY KEY);"
            f"INSERT INTO capt (id) VALUES {values};"
            "SELECT id FROM capt",
        )
        assert status == 413
        assert body["type"] == "validation"
        assert "LIMIT" in body["message"]
        assert "EMDRIVE_MAX_RESULT_ROWS" in body["message"]
        status, body, _ = _post(url, "SELECT id FROM capt LIMIT 5")
        assert status == 200
        assert len(body["rows"]) == 5
    finally:
        httpd.shutdown()


def test_in_flight_cap_503_then_recovers(spark, caplog):
    """Past MAX_IN_FLIGHT_REQUESTS executing statements a request gets a
    typed 503 at once (the reference caps in-flight statements at 100);
    once a slot frees, the next request runs. The slots are taken on the
    handler's semaphore directly, so no request threads are started."""
    import logging

    from emdrive_spark.server import MAX_IN_FLIGHT_REQUESTS

    httpd = serve(spark, host="127.0.0.1", port=18826)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    url = "http://127.0.0.1:18826"
    slots = httpd.RequestHandlerClass.in_flight
    taken = 0
    try:
        while slots.acquire(blocking=False):
            taken += 1
        assert taken == MAX_IN_FLIGHT_REQUESTS == 100
        with caplog.at_level(logging.INFO, logger="emdrive_spark.server"):
            status, body, headers = _post(url, "SELECT 1 AS one")
        assert status == 503
        assert body["type"] == "server"
        assert "100" in body["message"]
        rid = headers["X-Request-Id"]
        assert any(
            f"id={rid} kind=SELECT status=503 rows=0 " in r.getMessage()
            for r in caplog.records
        )
        slots.release()
        taken -= 1
        status, body, _ = _post(url, "SELECT 1 AS one")
        assert status == 200
        assert body["rows"] == [{"one": 1}]
    finally:
        for _ in range(taken):
            slots.release()
        httpd.shutdown()
