"""HTTP API tests through ``werkzeug.test.Client`` on the server's WSGI
callable: exact status-code semantics of the reference (main.rs:51-89)
plus the tiered superset routes, and the request contract (methods,
content types, bodies without Content-Length, response types)."""

from __future__ import annotations

import json
import logging
import subprocess
import sys
from pathlib import Path

import pytest
from werkzeug.datastructures import Headers
from werkzeug.test import Client, EnvironBuilder, run_wsgi_app

from lynx_spark.engine import LynxEngine
from lynx_spark.server import create_app
from lynx_spark.sources.coldtier import TieredEngine


@pytest.fixture()
def client(spark, tmp_path):
    return Client(create_app(LynxEngine(spark, tmp_path / "wal")))


@pytest.fixture()
def tiered_client(spark, tmp_path):
    return Client(
        create_app(TieredEngine(spark, tmp_path / "wal", tmp_path / "cold"))
    )


WRITE = {
    "namespace": "events",
    "measurement": "clicks",
    "value": "search_button",
    "metadata": {},
    "timestamp": 1,
}


def test_health(client):
    assert client.get("/health").status_code == 200


def test_write_then_query_table_default(client):
    assert client.post("/api/v1/write", json=WRITE).status_code == 200
    r = client.post(
        "/api/v1/query",
        json={"namespace": "events", "query": "SELECT * FROM clicks"},
    )
    assert r.status_code == 200
    body = r.get_data(as_text=True)
    assert "| 1970-01-01T00:00:00.000001 | search_button |" in body


def test_query_json_format(client):
    client.post("/api/v1/write", json=WRITE)
    r = client.post(
        "/api/v1/query",
        json={
            "namespace": "events",
            "query": "SELECT * FROM clicks",
            "format": "Json",
        },
    )
    assert json.loads(r.get_data()) == [
        {"timestamp": "1970-01-01T00:00:00.000001", "value": "search_button"}
    ]


def test_unknown_format_is_500(client):
    client.post("/api/v1/write", json=WRITE)
    r = client.post(
        "/api/v1/query",
        json={
            "namespace": "events",
            "query": "SELECT * FROM clicks",
            "format": "Bogus",  # serde rejects unknown variants
        },
    )
    assert r.status_code == 500


def test_unknown_namespace_and_table_404(client):
    client.post("/api/v1/write", json=WRITE)
    for ns, q in [("nope", "SELECT * FROM clicks"), ("events", "SELECT * FROM nope")]:
        assert (
            client.post("/api/v1/query", json={"namespace": ns, "query": q}).status_code
            == 404
        )


def test_write_missing_field_500(client):
    bad = dict(WRITE)
    del bad["metadata"]  # all five fields required (main.rs:55-57)
    assert client.post("/api/v1/write", json=bad).status_code == 500


def test_write_bad_tag_value_500(client):
    bad = dict(WRITE, metadata={"host": -1})  # u64 range
    assert client.post("/api/v1/write", json=bad).status_code == 500
    bad = dict(WRITE, metadata={"host": 1.5})  # float not a TagValue
    assert client.post("/api/v1/write", json=bad).status_code == 500


def test_non_select_500(client):
    client.post("/api/v1/write", json=WRITE)
    r = client.post(
        "/api/v1/query",
        json={"namespace": "events", "query": "INSERT INTO clicks VALUES (1)"},
    )
    assert r.status_code == 500


def test_flush_route(tiered_client):
    assert tiered_client.post("/api/v1/write", json=WRITE).status_code == 200
    r = tiered_client.post("/api/v1/flush", json={"namespace": "events"})
    assert r.status_code == 200
    assert r.get_json() == {"rows_flushed": 1}
    # data still queryable from the cold tier
    r = tiered_client.post(
        "/api/v1/query",
        json={"namespace": "events", "query": "SELECT * FROM clicks", "format": "Json"},
    )
    assert r.status_code == 200
    assert json.loads(r.get_data())[0]["value"] == "search_button"


def test_flush_on_plain_engine_404(client):
    r = client.post("/api/v1/flush", json={"namespace": "events"})
    assert r.status_code == 404


def test_optimize_route(tiered_client):
    # two flushes -> two small files in the same day partition
    for val in ("a", "b"):
        w = dict(WRITE, value=val)
        assert tiered_client.post("/api/v1/write", json=w).status_code == 200
        assert (
            tiered_client.post(
                "/api/v1/flush", json={"namespace": "events"}
            ).status_code
            == 200
        )
    r = tiered_client.post(
        "/api/v1/optimize", json={"namespace": "events", "vacuum": True}
    )
    assert r.status_code == 200
    assert r.get_json() == {"files_replaced": 2, "files_deleted": 2}
    r = tiered_client.post(
        "/api/v1/query",
        json={"namespace": "events", "query": "SELECT * FROM clicks", "format": "Json"},
    )
    assert r.status_code == 200
    assert sorted(row["value"] for row in json.loads(r.get_data())) == ["a", "b"]


def test_optimize_on_plain_engine_404(client):
    r = client.post("/api/v1/optimize", json={"namespace": "events"})
    assert r.status_code == 404


def test_reference_testdata_fixtures(client):
    """Replay the reference's own curl fixtures
    (/root/reference/testdata/write.json + query.json) verbatim."""
    write_fixture = {
        "namespace": "factory",
        "measurement": "temp",
        "value": "50",
        "metadata": {},
        "timestamp": 1761318000019000,
    }
    query_fixture = {"namespace": "factory", "query": "SELECT * FROM temp"}
    assert client.post("/api/v1/write", json=write_fixture).status_code == 200
    r = client.post("/api/v1/query", json=query_fixture)
    assert r.status_code == 200
    body = r.get_data(as_text=True)
    # default format = pretty table; timestamp 1761318000019000 us
    # = 2025-10-24T15:00:00.019 UTC
    assert "| 2025-10-24T15:00:00.019 | 50    |" in body


# ---------------------------------------- multi-table mode (round 2)


def _w(client, ns, meas, value, ts, tags=None):
    assert (
        client.post(
            "/api/v1/write",
            json={
                "namespace": ns,
                "measurement": meas,
                "value": value,
                "metadata": tags or {},
                "timestamp": ts,
            },
        ).status_code
        == 200
    )


def test_join_rejected_by_default(client):
    """Reference parity: only the first FROM table is registered, so a
    JOIN's second table fails analysis -> 500."""
    _w(client, "ns", "cpu", "1", 1, {"host": "a"})
    _w(client, "ns", "mem", "2", 1, {"host": "a"})
    r = client.post(
        "/api/v1/query",
        json={
            "namespace": "ns",
            "query": "SELECT c.value FROM cpu c JOIN mem m ON c.host = m.host",
        },
    )
    assert r.status_code == 500


@pytest.fixture()
def multi_client(spark, tmp_path):
    return Client(
        create_app(LynxEngine(spark, tmp_path / "wal", multi_table=True))
    )


def test_multi_table_join_behind_flag(multi_client):
    _w(multi_client, "ns", "cpu", "90", 1, {"host": "a"})
    _w(multi_client, "ns", "cpu", "10", 2, {"host": "b"})
    _w(multi_client, "ns", "mem", "512", 1, {"host": "a"})
    r = multi_client.post(
        "/api/v1/query",
        json={
            "namespace": "ns",
            "query": "SELECT c.value AS cpu, m.value AS mem "
            "FROM cpu c JOIN mem m ON c.host = m.host",
            "format": "Json",
        },
    )
    assert r.status_code == 200
    assert json.loads(r.get_data()) == [{"cpu": "90", "mem": "512"}]
    # 404 semantics unchanged: unknown namespace / first table
    assert (
        multi_client.post(
            "/api/v1/query",
            json={"namespace": "nope", "query": "SELECT * FROM cpu"},
        ).status_code
        == 404
    )
    assert (
        multi_client.post(
            "/api/v1/query",
            json={"namespace": "ns", "query": "SELECT * FROM gpu"},
        ).status_code
        == 404
    )


def test_multi_table_no_cross_namespace_leak(multi_client):
    """A table registered by an earlier query of another namespace must
    not satisfy a later namespace's JOIN (stale temp view sweep)."""
    _w(multi_client, "ns1", "cpu", "a", 1, {"host": "h"})
    _w(multi_client, "ns1", "disk", "d", 1, {"host": "h"})
    _w(multi_client, "ns2", "cpu", "b", 1, {"host": "h"})
    # register ns1.disk via a ns1 query
    assert (
        multi_client.post(
            "/api/v1/query",
            json={"namespace": "ns1", "query": "SELECT * FROM disk"},
        ).status_code
        == 200
    )
    # ns2 has no disk: the JOIN must fail, not read ns1's stale view
    r = multi_client.post(
        "/api/v1/query",
        json={
            "namespace": "ns2",
            "query": "SELECT c.value FROM cpu c JOIN disk x ON c.host = x.host",
        },
    )
    assert r.status_code == 500


def test_multi_table_tiered_joins_hot_and_cold(spark, tmp_path):
    """Multi-table mode over the tiered engine: one side flushed cold,
    the other hot."""
    eng = TieredEngine(
        spark, tmp_path / "wal", tmp_path / "cold", multi_table=True
    )
    c = Client(create_app(eng))
    _w(c, "ns", "cpu", "90", 1, {"host": "a"})
    assert c.post("/api/v1/flush", json={"namespace": "ns"}).status_code == 200
    _w(c, "ns", "mem", "512", 1, {"host": "a"})
    r = c.post(
        "/api/v1/query",
        json={
            "namespace": "ns",
            "query": "SELECT c.value AS cpu, m.value AS mem "
            "FROM cpu c JOIN mem m ON c.host = m.host",
            "format": "Json",
        },
    )
    assert r.status_code == 200
    assert json.loads(r.get_data()) == [{"cpu": "90", "mem": "512"}]


def test_cte_and_derived_tables_behind_flag(multi_client):
    """Multi-table mode also relaxes the parse_select restriction for
    read statements: WITH/CTE and derived tables run; INSERT stays
    rejected; a CTE touching no table of the namespace is 404."""
    _w(multi_client, "ns", "cpu", "90", 1, {"host": "a"})
    _w(multi_client, "ns", "cpu", "10", 2, {"host": "b"})
    r = multi_client.post(
        "/api/v1/query",
        json={
            "namespace": "ns",
            "query": "WITH hot AS (SELECT * FROM cpu WHERE value > '50') "
            "SELECT count(*) AS n FROM hot",
            "format": "Json",
        },
    )
    assert r.status_code == 200
    assert json.loads(r.get_data()) == [{"n": 1}]
    r = multi_client.post(
        "/api/v1/query",
        json={
            "namespace": "ns",
            "query": "SELECT max(value) AS m FROM (SELECT value FROM cpu) t",
            "format": "Json",
        },
    )
    assert r.status_code == 200
    assert json.loads(r.get_data()) == [{"m": "90"}]
    # writes rejected in every mode
    assert (
        multi_client.post(
            "/api/v1/query",
            json={"namespace": "ns", "query": "INSERT INTO cpu VALUES (1)"},
        ).status_code
        == 500
    )
    # CTE referencing nothing in this namespace -> 404 like unknown table
    assert (
        multi_client.post(
            "/api/v1/query",
            json={
                "namespace": "ns",
                "query": "WITH x AS (SELECT 1 AS a) SELECT * FROM x",
            },
        ).status_code
        == 404
    )


def test_cte_still_rejected_by_default(client):
    _w(client, "ns", "cpu", "1", 1)
    assert (
        client.post(
            "/api/v1/query",
            json={
                "namespace": "ns",
                "query": "WITH h AS (SELECT * FROM cpu) SELECT * FROM h",
            },
        ).status_code
        == 500
    )


def test_multi_table_mixed_case_table_names(multi_client):
    """r2 review: the catalog lowercases view names; the stale-view
    sweep must not drop the views the query just registered for a
    mixed-case measurement."""
    _w(multi_client, "ns", "CpuLoad", "1", 1, {"host": "a"})
    _w(multi_client, "ns", "MemUse", "2", 1, {"host": "a"})
    r = multi_client.post(
        "/api/v1/query",
        json={
            "namespace": "ns",
            "query": "SELECT c.value AS a, m.value AS b FROM CpuLoad c "
            "JOIN MemUse m ON c.host = m.host",
            "format": "Json",
        },
    )
    assert r.status_code == 200
    assert json.loads(r.get_data()) == [{"a": "1", "b": "2"}]


def test_multi_table_404_vs_500_matrix(spark, tmp_path):
    """VERDICT r11 task 6: the full status matrix under multi-table
    mode, pinned over the TIERED engine (hot + cold both populated) so
    the flag's semantics can't drift from the reference's single-table
    contract (main.rs:83: unknown namespace/first-table -> 404; any
    analysis/exec error, including an unknown JOINED table -> 500)."""
    eng = TieredEngine(
        spark, tmp_path / "wal", tmp_path / "cold", multi_table=True
    )
    c = Client(create_app(eng))
    _w(c, "ns", "cpu", "90", 1, {"host": "a"})
    assert c.post("/api/v1/flush", json={"namespace": "ns"}).status_code == 200
    _w(c, "ns", "mem", "512", 1, {"host": "a"})

    def q(ns, sql):
        return c.post(
            "/api/v1/query", json={"namespace": ns, "query": sql}
        ).status_code

    join = "SELECT c.value FROM cpu c JOIN mem m ON c.host = m.host"
    # both tables known (one cold, one hot) -> 200
    assert q("ns", join) == 200
    # unknown namespace -> 404 (not empty, not 500)
    assert q("nope", join) == 404
    # unknown FIRST table -> 404 (the reference's addressed table)
    assert q("ns", "SELECT * FROM gpu") == 404
    assert q("ns", "SELECT g.value FROM gpu g JOIN mem m ON g.host = m.host") == 404
    # known first table, unknown JOINED table -> 500 (analysis error,
    # exactly what the reference returns when DataFusion can't resolve)
    assert q("ns", "SELECT c.value FROM cpu c JOIN gpu g ON c.host = g.host") == 500
    # non-SELECT still rejected -> 500
    assert q("ns", "INSERT INTO cpu VALUES (1)") == 500
    # and the same sweep finds nothing stale: a second good join -> 200
    assert q("ns", join) == 200


def test_write_route_semantics(client):
    """The write route and every other route share one path through
    the WSGI callable: parse the JSON body -> ``WriteRequest`` ->
    ``engine.write`` -> 200, and any error on the way is a 500."""
    # happy path (Content-Length + JSON type)
    r = client.post(
        "/api/v1/write",
        data=json.dumps(WRITE),
        content_type="application/json",
    )
    assert r.status_code == 200
    # malformed JSON body -> 500
    r = client.post(
        "/api/v1/write", data="{nope", content_type="application/json"
    )
    assert r.status_code == 500
    # missing field -> 500 (from_json_dict validation)
    bad = dict(WRITE)
    del bad["timestamp"]
    r = client.post(
        "/api/v1/write", data=json.dumps(bad),
        content_type="application/json",
    )
    assert r.status_code == 500
    # non-JSON content type -> 500, like a malformed body
    r = client.post(
        "/api/v1/write", data=json.dumps(WRITE), content_type="text/plain"
    )
    assert r.status_code == 500
    # the write route never swallows other routes
    assert client.get("/health").status_code == 200
    r = client.post(
        "/api/v1/query",
        json={"namespace": "events", "query": "SELECT * FROM clicks",
              "format": "Json"},
    )
    assert r.status_code == 200
    assert json.loads(r.get_data())[0]["value"] == "search_button"


# ------------------------------------------------ the HTTP contract

JSON = "application/json"
JSON_QUERY = {"namespace": "events", "query": "SELECT * FROM clicks", "format": "Json"}
TABLE_QUERY = {"namespace": "events", "query": "SELECT * FROM clicks"}
NO_LENGTH = {"CONTENT_LENGTH": None}
TABLE_BODY = (
    "+----------------------------+---------------+\n"
    "| timestamp                  | value         |\n"
    "+----------------------------+---------------+\n"
    "| 1970-01-01T00:00:00.000001 | search_button |\n"
    "+----------------------------+---------------+"
).encode()


def _call(app, method, path, content_type=None, payload=None, environ=None):
    """One request straight through the WSGI callable: an environ
    that ``werkzeug.test.Client`` cannot build (no ``CONTENT_LENGTH``)
    needs no client. Returns (status, Content-Type, body)."""
    env = EnvironBuilder(
        path=path,
        method=method,
        content_type=content_type,
        data=None if payload is None else json.dumps(payload),
    ).get_environ()
    for key, value in (environ or {}).items():
        if value is None:
            env.pop(key, None)
        else:
            env[key] = value
    app_iter, status, headers = run_wsgi_app(app, env, buffered=True)
    body = b"".join(app_iter)
    return int(status.split()[0]), Headers(headers).get("Content-Type"), body


FLUSH = {"namespace": "events"}
CHUNKED = dict(NO_LENGTH, **{"wsgi.input_terminated": True})
TEXT = "text/plain"


@pytest.mark.parametrize(
    "method, path, content_type, payload, environ, status, resp_type, resp_body",
    [
        ("HEAD", "/health", None, None, None, 200, ..., b""),
        ("GET", "/health", None, None, None, 200, ..., b""),
        ("GET", "/api/v1/write", None, None, None, 405, ..., ...),
        ("POST", "/nope", JSON, WRITE, None, 404, ..., ...),
        ("POST", "/api/v1/write", TEXT, WRITE, None, 500, ..., b""),
        ("POST", "/api/v1/flush", TEXT, FLUSH, None, 500, ..., b""),
        ("POST", "/api/v1/optimize", TEXT, FLUSH, None, 500, ..., b""),
        ("POST", "/api/v1/query", TEXT, JSON_QUERY, None, 500, ..., b""),
        ("POST", "/api/v1/write", "application/ld+json", WRITE, None, 200, ..., b""),
        ("POST", "/api/v1/write", JSON + "; charset=utf-8", WRITE, None, 200, ..., b""),
        ("POST", "/api/v1/write", JSON, WRITE, CHUNKED, 200, ..., b""),
        ("POST", "/api/v1/write", JSON, WRITE, NO_LENGTH, 500, ..., b""),
        ("POST", "/api/v1/flush", JSON, FLUSH, None, 200, JSON,
         b'{"rows_flushed":1}\n'),
        ("POST", "/api/v1/optimize", JSON, FLUSH, None, 200, JSON,
         b'{"files_deleted":0,"files_replaced":0}\n'),
        ("POST", "/api/v1/query", JSON, JSON_QUERY, None, 200, JSON,
         b'[{"timestamp":"1970-01-01T00:00:00.000001","value":"search_button"}]'),
        ("POST", "/api/v1/query", "application/vnd.api+json", TABLE_QUERY, None,
         200, TEXT + "; charset=utf-8", TABLE_BODY),
    ],
)
def test_http_contract(
    spark, tmp_path, method, path, content_type, payload, environ, status,
    resp_type, resp_body,
):
    """The status, Content-Type and body of every route on the tiered
    engine (which serves all five), one request over one written row.
    ``...`` leaves a field unchecked: empty error and status-only
    responses carry no contract on their headers."""
    app = create_app(TieredEngine(spark, tmp_path / "wal", tmp_path / "cold"))
    assert _call(app, "POST", "/api/v1/write", JSON, WRITE)[0] == 200
    got = _call(app, method, path, content_type, payload, environ)
    assert got[0] == status
    if resp_type is not ...:
        assert got[1] == resp_type
    if resp_body is not ...:
        assert got[2] == resp_body


def test_route_error_logs_traceback(client, caplog):
    """A 500 says where it failed: the one catch-all logs the
    exception with its traceback."""
    with caplog.at_level(logging.ERROR, logger="lynx_spark.server"):
        r = client.post("/api/v1/write", data="{nope", content_type=JSON)
    assert r.status_code == 500
    assert "Traceback" in caplog.text
    assert "POST /api/v1/write" in caplog.text


def test_server_import_leaves_flask_out():
    """The server needs werkzeug only: importing it loads no flask."""
    code = "import sys, lynx_spark.server; print('flask' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"
