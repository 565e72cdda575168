"""HTTP API: the reference's three routes (src/main.rs) and the tiered
engine's two, served by one plain WSGI callable.

    GET|HEAD /health       -> 200                     (main.rs:51-53)
    POST /api/v1/write     -> 200 | 500               (main.rs:55-66)
    POST /api/v1/query     -> 200 | 404 | 500         (main.rs:68-89)
    POST /api/v1/flush     -> 200 | 404 | 500         (superset)
    POST /api/v1/optimize  -> 200 | 404 | 500         (superset)
    any other path -> 404; another method on one of these paths -> 405

POST bodies are JSON, sent as ``application/json`` (with or without
parameters) or ``application/*+json``; any other type is a 500 like a
malformed body. Query body: ``{"namespace": .., "query": ..,
"format": "Json"|"Table"}`` (main.rs:43-49). Default format when
omitted is the pretty TABLE (main.rs:80). Unknown namespace/table ->
404, NOT an empty result (main.rs:83). Every error is a 500 whose
traceback is logged to stderr (the reference prints it, main.rs:59-64).

Config via CLI/env like the reference (main.rs:19-29):
    LYNX_HTTP_ADDR (default 127.0.0.1:3000)
    LYNX_WAL_DIRECTORY (required)
    LYNX_WAL_MAX_SEGMENT_SIZE (default 52428800)

Superset (absent in the reference): LYNX_COLD_DIRECTORY enables the
tiered engine (hot buffer + date-partitioned parquet) and its two
routes, which are 404 without it:
POST /api/v1/flush ({"namespace": ...} -> rows flushed) and
POST /api/v1/optimize ({"namespace": .., "table"?: .., "min_files"?:
2, "vacuum"?: false} -> files replaced/deleted) — small-file
compaction of the cold tier via the commit log's rewrite entries.
LYNX_AUTO_FLUSH_ROWS=N arms the tiered engine's per-namespace
background flush watermark (hot buffer bounded without any
/api/v1/flush caller).
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys

from werkzeug.wsgi import get_content_length, get_input_stream

from lynx_spark.engine import LynxEngine
from lynx_spark.formatting import rows_to_json, rows_to_table
from lynx_spark.model import WriteRequest

log = logging.getLogger(__name__)

JSON = "application/json"
OK = ("200 OK", None, b"")
NOT_FOUND = ("404 NOT FOUND", None, b"")


def _json_body(environ) -> object:
    """The request's JSON payload. A body without Content-Length
    (chunked) is read only when the server terminates the stream."""
    mimetype = environ.get("CONTENT_TYPE", "").partition(";")[0].strip().lower()
    if mimetype != JSON and not (
        mimetype.startswith("application/") and mimetype.endswith("+json")
    ):
        raise ValueError(f"not a JSON content type: {mimetype!r}")
    length = get_content_length(environ)
    if length is None:
        return json.loads(get_input_stream(environ).read())
    # read exactly the declared bytes: get_input_stream's LimitedStream
    # wrapper would cost about as much as parsing the body
    return json.loads(environ["wsgi.input"].read(length))


def _json_response(obj: dict) -> tuple:
    body = json.dumps(obj, separators=(",", ":"), sort_keys=True) + "\n"
    return "200 OK", JSON, body.encode()


def create_app(engine: LynxEngine):
    """The WSGI callable serving ``engine``: one handler per route,
    each returning ``(status, content type or None, body)``."""
    from lynx_spark.sources.coldtier import TieredEngine

    def health(environ):  # main.rs:51-53
        return OK

    def write(environ):  # main.rs:55-66
        engine.write(WriteRequest.from_json_dict(_json_body(environ)))
        return OK

    def query(environ):  # main.rs:68-89
        payload = _json_body(environ)
        fmt = payload.get("format")  # None -> Table (main.rs:80)
        if fmt not in (None, "Json", "Table"):
            # serde rejects unknown enum variants (main.rs:36-40)
            raise ValueError(f"unknown format: {fmt!r}")
        df = engine.query(payload["namespace"], payload["query"])
        if df is None:
            return NOT_FOUND
        columns = df.columns
        rows = [tuple(r) for r in df.collect()]
        if fmt == "Json":
            return "200 OK", JSON, rows_to_json(columns, rows).encode()
        body = rows_to_table(columns, rows).encode()
        return "200 OK", "text/plain; charset=utf-8", body

    def flush(environ):  # superset: drain hot buffer to the cold tier
        rows = engine.flush(_json_body(environ)["namespace"])
        return _json_response({"rows_flushed": rows})

    def optimize(environ):  # superset: pack small cold files (+ opt. vacuum)
        payload = _json_body(environ)
        replaced = engine.optimize(
            payload["namespace"],
            table=payload.get("table"),
            min_files=int(payload.get("min_files", 2)),
        )
        deleted = engine.vacuum(payload["namespace"]) if payload.get("vacuum") else 0
        return _json_response({"files_replaced": replaced, "files_deleted": deleted})

    def no_cold_tier(environ):
        return NOT_FOUND

    tiered = isinstance(engine, TieredEngine)
    routes = {
        "/health": (("GET", "HEAD"), health),
        "/api/v1/write": (("POST",), write),
        "/api/v1/query": (("POST",), query),
        "/api/v1/flush": (("POST",), flush if tiered else no_cold_tier),
        "/api/v1/optimize": (("POST",), optimize if tiered else no_cold_tier),
    }

    def app(environ, start_response):
        path = environ.get("PATH_INFO")
        method = environ.get("REQUEST_METHOD")
        route = routes.get(path)
        headers = []
        if route is None:
            status, ctype, body = NOT_FOUND
        elif method not in route[0]:
            status, ctype, body = "405 METHOD NOT ALLOWED", None, b""
            headers.append(("Allow", ", ".join(route[0])))
        else:
            try:
                status, ctype, body = route[1](environ)
            except Exception:  # noqa: BLE001 — catch-all -> 500 (main.rs:59-64)
                log.exception("%s %s -> 500", method, path)
                status, ctype, body = "500 INTERNAL SERVER ERROR", None, b""
        if ctype is not None:
            headers.append(("Content-Type", ctype))
        headers.append(("Content-Length", str(len(body))))
        start_response(status, headers)
        return [body]

    return app


def main() -> None:
    parser = argparse.ArgumentParser(description="lynx_spark server")
    parser.add_argument(
        "--bind",
        default=os.environ.get("LYNX_HTTP_ADDR", "127.0.0.1:3000"),
    )
    parser.add_argument(
        "--wal-directory",
        default=os.environ.get("LYNX_WAL_DIRECTORY"),
        required="LYNX_WAL_DIRECTORY" not in os.environ,
    )
    parser.add_argument(
        "--wal-max-segment-size",
        type=int,
        default=int(os.environ.get("LYNX_WAL_MAX_SEGMENT_SIZE", "52428800")),
    )
    parser.add_argument(
        "--cold-directory",
        default=os.environ.get("LYNX_COLD_DIRECTORY"),
        help="enable the tiered engine (superset; absent in the reference)",
    )
    def env_flag(name: str) -> bool:
        return os.environ.get(name, "").strip().lower() not in (
            "", "0", "false", "no", "off",
        )

    parser.add_argument(
        "--expose-day",
        action="store_true",
        default=env_flag("LYNX_EXPOSE_DAY"),
        help="surface the tiered engine's day partition column in query "
        "results (flagged superset; default keeps reference schema parity)",
    )
    parser.add_argument(
        "--multi-table",
        action="store_true",
        default=env_flag("LYNX_MULTI_TABLE"),
        help="register every referenced table of the namespace so JOINs "
        "work over the ingest surface (flagged superset; default matches "
        "the reference: only the first FROM table exists)",
    )
    parser.add_argument(
        "--auto-flush-rows",
        type=int,
        default=int(os.environ.get("LYNX_AUTO_FLUSH_ROWS", "0")) or None,
        help="tiered engine only: background-flush a namespace once its "
        "hot buffer holds this many rows (bounds driver memory without "
        "requiring /api/v1/flush calls; 0/unset disables)",
    )
    parser.add_argument(
        "--auto-flush-age-s",
        type=float,
        default=float(os.environ.get("LYNX_AUTO_FLUSH_AGE_S", "0")) or None,
        help="tiered engine only: background-flush a namespace once its "
        "oldest unflushed row is this many seconds old — a trickle-rate "
        "namespace must not pin WAL segments forever (0/unset disables)",
    )
    parser.add_argument(
        "--auto-optimize-files",
        type=int,
        default=int(os.environ.get("LYNX_AUTO_OPTIMIZE_FILES", "0")) or None,
        help="tiered engine only: background bin-pack a (table, day) "
        "partition once it holds this many visible files — bounds the "
        "small-file accumulation trickle auto-flushes create without "
        "requiring /api/v1/optimize calls (0/unset disables; minimum "
        "meaningful value is 2). Checked at each flush AND at each "
        "streaming-sink commit (pass the engine to stream_to_cold_tier), "
        "so purely streaming-ingested namespaces are covered too",
    )
    args = parser.parse_args()

    from lynx_spark.session import get_spark

    spark = get_spark("lynx_spark_server")
    if args.cold_directory:
        from lynx_spark.sources.coldtier import TieredEngine

        engine = TieredEngine(
            spark, args.wal_directory, args.cold_directory,
            args.wal_max_segment_size, expose_day=args.expose_day,
            multi_table=args.multi_table,
            auto_flush_rows=args.auto_flush_rows,
            auto_flush_age_s=args.auto_flush_age_s,
            auto_optimize_files=args.auto_optimize_files,
        )
    else:
        engine = LynxEngine(
            spark, args.wal_directory, args.wal_max_segment_size,
            multi_table=args.multi_table,
        )
    from werkzeug.serving import run_simple

    host, _, port = args.bind.rpartition(":")
    print(f"Starting server on {args.bind}", file=sys.stderr)
    run_simple(host or "127.0.0.1", int(port), create_app(engine), threaded=True)


if __name__ == "__main__":
    main()
