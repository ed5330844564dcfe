"""Read-only page/web-view server — the reference's serving layer.

Reference surface: `NW` named webserver (`deva/core/namespace.py:250-287`
— ``data >> server`` stores values, ``GET /data`` serves them),
``webview``/``sse_view`` (`deva/page.py`, `deva/page_ui/stream_views.py:10-96`
— a stream rendered as a live HTML page / pushed as Server-Sent Events).

Spark mapping: the "stream" behind a page is a DataFrame snapshot
callable (batch) or a topic tail (streaming — the same
:class:`~deva_spark.sources.topic.FileTopicBroker` the ``foreachBatch``
sinks feed), so the serving layer stays OUT of the execution engine: a
page render triggers a bounded ``limit(n).toPandas()``, an SSE client
drains a broker cursor. Pure stdlib (``http.server``) — the reference's
tornado/sockjs machinery maps to plain threads + SSE, which every
modern browser speaks natively.

Scale note: this is a driver-side convenience view, not a data plane —
renders are bounded by ``limit`` and SSE reads by the topic's
``max_len``; nothing here ever materializes an unbounded result.
"""

from __future__ import annotations

import html
import json
import threading
import time
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame


class PageServer:
    """Named web server (``NW`` analog): a data store served over HTTP
    plus registered DataFrame pages and SSE topic tails.

    - ``{"k": v} >> server`` (or ``server.put(k, v)``) stores values;
      ``GET /data`` returns the whole store, ``GET /data/<k>`` one key.
    - :meth:`add_view` registers a DataFrame (or a zero-arg callable
      returning one) at ``/df/<name>`` as an HTML table of the first
      ``limit`` rows.
    - :meth:`add_sse` registers a cursor poller at ``/sse/<name>``
      (``text/event-stream``); :func:`sse_topic` wires a broker topic.
    - ``GET /`` is an index of everything registered.

    ``port=0`` binds an ephemeral port (tests); ``start=False`` matches
    the reference's deferred-start contract.
    """

    def __init__(self, host: str = "127.0.0.1", port: int = 0, start: bool = True):
        self.data: dict[str, object] = {}
        self._json: dict[str, Callable[[], object]] = {}
        self._views: dict[str, tuple[Callable[[], DataFrame], int]] = {}
        self._sse: dict[
            str, tuple[Callable[[str | None], tuple[list, str | None]], float]
        ] = {}
        self._httpd = ThreadingHTTPServer((host, port), _make_handler(self))
        self._httpd.daemon_threads = True
        self.host, self.port = self._httpd.server_address[:2]
        self._thread: threading.Thread | None = None
        self._closed = False
        if start:
            self.start()

    def start(self) -> "PageServer":
        if self._thread is None:
            self._thread = threading.Thread(
                target=self._httpd.serve_forever, daemon=True
            )
            self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread = None
        self._closed = True

    @property
    def alive(self) -> bool:
        """True while the socket is bound (``__init__`` binds even with
        ``start=False``); False after :meth:`stop` releases the port —
        a stopped server must not keep claiming it in :func:`NW`."""
        return not self._closed

    @property
    def url(self) -> str:
        return f"http://{self.host}:{self.port}"

    def put(self, key: str, value: object) -> None:
        self.data[key] = value

    def __rrshift__(self, other: object) -> "PageServer":
        """``{"k": v} >> server`` — the reference's store dispatch."""
        if isinstance(other, dict):
            self.data.update(other)
        else:
            self.data["data"] = other
        return self

    def add_view(
        self,
        name: str,
        df: DataFrame | Callable[[], DataFrame],
        limit: int = 50,
    ) -> str:
        """Serve a DataFrame at ``/df/<name>`` (``webview`` analog).
        A callable re-evaluates per request — a live view of a lazy
        plan; a plain DataFrame snapshots whatever its plan computes."""
        fn = df if callable(df) else (lambda: df)
        self._views[name] = (fn, limit)
        return f"{self.url}/df/{name}"

    def add_json(self, name: str, fn: Callable[[], object]) -> str:
        """Serve ``fn()`` as JSON at ``/json/<name>`` — re-evaluated per
        request (the live-status primitive the admin panel builds on)."""
        self._json[name] = fn
        return f"{self.url}/json/{name}"

    def add_sse(
        self,
        name: str,
        poller: Callable[[str | None], tuple[list, str | None]],
        poll_interval: float = 0.2,
    ) -> str:
        """Serve events at ``/sse/<name>`` (``sse_view`` analog).
        ``poller(cursor) -> (events, new_cursor)`` is called in the
        request thread; each event goes out as one ``data:`` frame.
        ``poll_interval`` is stored PER endpoint — registering a second
        SSE view must not retune the cadence of the first."""
        self._sse[name] = (poller, poll_interval)
        return f"{self.url}/sse/{name}"


def sse_topic(server: PageServer, broker, topic: str, name: str | None = None) -> str:
    """Wire a broker topic tail to an SSE page: streaming sinks XADD into
    the topic (``topic_sink``), browsers drain it — the Spark-side twin
    of the reference's stream->sockjs webview push."""

    def poll(cursor: str | None):
        rows = broker.xread(topic, last_id=cursor or "")
        return [v for _id, v in rows], (rows[-1][0] if rows else cursor)

    return server.add_sse(name or topic, poll)


def _df_html(name: str, fn: Callable[[], DataFrame], limit: int) -> str:
    pdf = fn().limit(limit).toPandas()
    table = pdf.to_html(index=False, border=0)
    return (
        "<!doctype html><html><head><meta charset='utf-8'>"
        f"<title>{html.escape(name)}</title></head><body>"
        f"<h2>{html.escape(name)}</h2><p>first {len(pdf)} rows</p>"
        f"{table}</body></html>"
    )


def _make_handler(server: PageServer):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet: tests and pipelines
            pass

        def _send(self, body: bytes, ctype: str, code: int = 200) -> None:
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 — http.server contract
            # http.server's self.path carries the RAW query string; an
            # endpoint requested with ?params must still route (r11
            # review — '/df/users?x=1' 404'd on a registered view)
            path = self.path.split("?", 1)[0].rstrip("/") or "/"
            if path == "/":
                links = (
                    [f"<li><a href='/data'>data ({len(server.data)} keys)</a></li>"]
                    + [f"<li><a href='/json/{n}'>json: {html.escape(n)}</a></li>" for n in server._json]
                    + [f"<li><a href='/df/{n}'>df: {html.escape(n)}</a></li>" for n in server._views]
                    + [f"<li><a href='/sse/{n}'>sse: {html.escape(n)}</a></li>" for n in server._sse]
                )
                self._send(
                    ("<html><body><h2>deva_spark pages</h2><ul>"
                     + "".join(links) + "</ul></body></html>").encode(),
                    "text/html; charset=utf-8",
                )
            elif path.startswith("/json/"):
                name = path[len("/json/"):]
                fn = server._json.get(name)
                if fn is None:
                    self._send(b"not found", "text/plain", 404)
                    return
                try:
                    body = json.dumps(fn(), default=str).encode()
                except Exception as e:  # surface callable errors
                    self._send(f"error: {e}".encode(), "text/plain", 500)
                    return
                self._send(body, "application/json")
            elif path == "/data":
                self._send(
                    json.dumps(server.data, default=str).encode(),
                    "application/json",
                )
            elif path.startswith("/data/"):
                key = path[len("/data/"):]
                if key not in server.data:
                    self._send(b"not found", "text/plain", 404)
                    return
                self._send(
                    json.dumps(server.data[key], default=str).encode(),
                    "application/json",
                )
            elif path.startswith("/df/"):
                name = path[len("/df/"):]
                view = server._views.get(name)
                if view is None:
                    self._send(b"not found", "text/plain", 404)
                    return
                try:
                    body = _df_html(name, *view).encode()
                except Exception as e:  # surface plan errors to the page
                    self._send(f"render error: {e}".encode(), "text/plain", 500)
                    return
                self._send(body, "text/html; charset=utf-8")
            elif path.startswith("/sse/"):
                name = path[len("/sse/"):]
                poller, interval = server._sse.get(name, (None, 0.2))
                if poller is None:
                    self._send(b"not found", "text/plain", 404)
                    return
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                cursor: str | None = None
                try:
                    while True:
                        events, cursor = poller(cursor)
                        for ev in events:
                            payload = json.dumps(ev, default=str)
                            self.wfile.write(f"data: {payload}\n\n".encode())
                        self.wfile.flush()
                        time.sleep(interval)
                except (BrokenPipeError, ConnectionResetError):
                    pass  # client went away — normal SSE teardown
            else:
                self._send(b"not found", "text/plain", 404)

        def do_POST(self) -> None:  # noqa: N802
            if self.path.startswith("/data/"):
                key = self.path[len("/data/"):].rstrip("/")
                n = int(self.headers.get("Content-Length", "0"))
                raw = self.rfile.read(n)
                try:
                    server.data[key] = json.loads(raw)
                except (json.JSONDecodeError, UnicodeDecodeError):
                    server.data[key] = raw.decode("utf-8", "replace")
                self._send(b"ok", "text/plain")
            else:
                self._send(b"not found", "text/plain", 404)

    return Handler


def NW(  # noqa: N802 — reference name
    name: str = "",
    host: str = "127.0.0.1",
    port: int | None = None,
    start: bool = True,
    **_kwargs,
) -> PageServer:
    """Named web server constructor (`namespace.py:250`): one server per
    name, created on first use — ``data >> NW('api')`` then
    ``GET /data``. ``port=None`` (the default) means "don't care": the
    first such server gets 9999 and later ones bind ephemerally (read
    ``.port``) instead of crashing with EADDRINUSE on the shared
    default. An EXPLICIT port is a contract — if another LIVE named
    server already holds it, raise instead of silently swapping in an
    ephemeral one the caller's clients would never find (ADVICE r11
    #4); stopped servers no longer claim their old port OR their name
    (r12 review: returning the dead cached server would accept writes
    nothing will ever serve, while its stale ``.url`` may now point at
    a DIFFERENT live server that claimed the freed port — silent wrong
    data; recreate instead)."""
    key = name or "_default"
    srv = _NAMED.get(key)
    if srv is not None and not srv.alive:
        del _NAMED[key]
        srv = None
    if srv is None:
        explicit = port is not None
        want = port if explicit else 9999
        if any(
            s.host == host and s.port == want and s.alive
            for s in _NAMED.values()
        ):
            if explicit:
                raise OSError(
                    f"port {want} on {host} was explicitly requested "
                    f"for NW({name!r}) but another live named server "
                    "already holds it"
                )
            want = 0  # caller didn't pick: bind ephemerally
        srv = PageServer(host=host, port=want, start=start)
        _NAMED[key] = srv
    return srv


_NAMED: dict[str, PageServer] = {}

#: Phases of a micro-batch's ``durationMs`` that ``/json/runtime`` reports:
#: the offset and commit log writes, the sink write and the whole trigger.
_BATCH_PHASES = ("walCommit", "commitOffsets", "addBatch", "triggerExecution")


def admin_panel(
    server: PageServer,
    spark,
    config=None,
    sf_dir: str | None = None,
) -> dict[str, str]:
    """The reference admin panel's monitor/config/tables slice
    (`/root/reference/deva/admin.py:1-673` — runtime monitor, config
    registry view, table browser) as live JSON endpoints on a
    :class:`PageServer` — the operational read surface without the
    tornado UI layer (DEVIATIONS #15's rationale: stdlib serving,
    bounded snapshots, never in the data plane):

    - ``/json/runtime`` — Spark version/master/parallelism + active
      STREAMING QUERIES (name, id, last progress rates, the last batch's
      ``durationMs`` phases and each state operator's ``commitTimeMs``
      and ``numRowsTotal``) + the JVM's
      generated-code compile counters (``codegen``:
      classes compiled and compile ms; a count that keeps rising on a
      repeating pipeline means the class cache evicts): the monitor
      page.
    - ``/json/config`` — the :class:`~deva_spark.sources.config
      .ConfigStore` contents with sensitive values MASKED (the admin
      config view never leaks credentials).
    - ``/json/tables`` — catalog tables (name, database, isTemporary).
    - ``/json/artifacts`` — staged-artifact status for ``sf_dir``
      (which shared indexes exist on disk, the staging audit).

    Returns name -> URL for everything registered."""

    def runtime() -> dict:
        from deva_spark.session import codegen_stats

        sc = spark.sparkContext
        streams = []
        for q in spark.streams.active:
            p = q.lastProgress or {}
            streams.append(
                {
                    "name": q.name,
                    "id": str(q.id),
                    "active": q.isActive,
                    "batchId": p.get("batchId"),
                    "inputRowsPerSecond": p.get("inputRowsPerSecond"),
                    "durationMs": {
                        k: v
                        for k, v in (p.get("durationMs") or {}).items()
                        if k in _BATCH_PHASES
                    },
                    "stateOperators": [
                        {
                            "commitTimeMs": op.get("commitTimeMs"),
                            "numRowsTotal": op.get("numRowsTotal"),
                        }
                        for op in p.get("stateOperators") or []
                    ],
                }
            )
        return {
            "version": spark.version,
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "applicationId": sc.applicationId,
            "streams": streams,
            "codegen": codegen_stats(spark),
        }

    def tables() -> list[dict]:
        return [
            {
                "name": t.name,
                "database": t.namespace[0] if t.namespace else None,
                "isTemporary": t.isTemporary,
            }
            for t in spark.catalog.listTables()
        ]

    out = {
        "runtime": server.add_json("runtime", runtime),
        "tables": server.add_json("tables", tables),
    }
    if config is not None:
        out["config"] = server.add_json(
            "config", lambda: config.get_all(mask_sensitive=True)
        )
    if sf_dir is not None:
        from deva_spark import queries as Q

        def artifacts() -> dict:
            names = list(Q.ARTIFACT_BUILDERS) + list(Q.ARTIFACT_STAGERS)
            return {
                n: bool(Q.staged_artifact_path(sf_dir, n)) for n in names
            }

        out["artifacts"] = server.add_json("artifacts", artifacts)
    return out
