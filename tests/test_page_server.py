"""Page/webview server (NW / webview / sse_view analogs) — real HTTP
round-trips over the stdlib server on an ephemeral port."""

import json
import socket
import uuid
import urllib.request

import pytest

from deva_spark.sources.page import PageServer, sse_topic
from deva_spark.sources.topic import FileTopicBroker


@pytest.fixture()
def server():
    srv = PageServer(port=0)
    yield srv
    srv.stop()


def _get(url: str) -> bytes:
    with urllib.request.urlopen(url, timeout=5) as r:
        return r.read()


def test_data_store_roundtrip(server):
    {"answer": 42} >> server
    server.put("greeting", "hi")
    assert json.loads(_get(f"{server.url}/data")) == {"answer": 42, "greeting": "hi"}
    assert json.loads(_get(f"{server.url}/data/answer")) == 42
    # POST stores JSON bodies
    req = urllib.request.Request(
        f"{server.url}/data/posted", data=b'{"x": 1}', method="POST"
    )
    urllib.request.urlopen(req, timeout=5)
    assert json.loads(_get(f"{server.url}/data/posted")) == {"x": 1}


def test_dataframe_webview(server, spark):
    df = spark.range(5).selectExpr("id", "id * id AS sq")
    url = server.add_view("squares", df, limit=3)
    body = _get(url).decode()
    assert "<table" in body and "squares" in body and "first 3 rows" in body
    assert ">16<" not in body  # row 4 is past the limit
    # index lists the view and a missing name 404s
    assert "df/squares" in _get(server.url + "/").decode()
    with pytest.raises(urllib.error.HTTPError):
        _get(f"{server.url}/df/nope")


def test_sse_topic_tail(server, tmp_path):
    broker = FileTopicBroker(str(tmp_path))
    for i in range(3):
        broker.xadd("alerts", f"event-{i}")
    url = sse_topic(server, broker, "alerts")
    # raw socket read: urllib would block on the infinite stream
    host, port = server.host, server.port
    with socket.create_connection((host, port), timeout=5) as s:
        s.sendall(f"GET /sse/alerts HTTP/1.1\r\nHost: {host}\r\n\r\n".encode())
        s.settimeout(5)
        buf = b""
        while buf.count(b"data:") < 3:
            buf += s.recv(4096)
    frames = [
        json.loads(line[len(b"data: "):])
        for line in buf.split(b"\n")
        if line.startswith(b"data: ")
    ]
    assert frames[:3] == ["event-0", "event-1", "event-2"]
    assert url.endswith("/sse/alerts")


def test_json_endpoint_live(server):
    state = {"n": 1}
    server.add_json("counter", lambda: dict(state))
    assert json.loads(_get(f"{server.url}/json/counter")) == {"n": 1}
    state["n"] = 2  # re-evaluated per request (live view)
    assert json.loads(_get(f"{server.url}/json/counter")) == {"n": 2}


def test_admin_panel_runtime_config_tables(server, spark, tmp_path):
    from deva_spark.sources.config import ConfigStore
    from deva_spark.sources.page import admin_panel

    cs = ConfigStore(str(tmp_path / "cfg.db"))
    cs.update("llm", {"base_url": "http://h/v1", "api_key": "sk-secret-value"})
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView(
        "admin_panel_probe"
    )
    urls = admin_panel(server, spark, config=cs)
    rt = json.loads(_get(urls["runtime"]))
    assert rt["version"] == spark.version
    assert rt["master"].startswith("local")
    assert isinstance(rt["streams"], list)
    # the counters move with compiles: a fresh projection compiles a class
    spark.range(2).selectExpr(f"id * {uuid.uuid4().int % 10**9} AS v").collect()
    rt2 = json.loads(_get(urls["runtime"]))
    assert rt2["codegen"]["classes_compiled"] > rt["codegen"]["classes_compiled"]
    assert rt2["codegen"]["compile_ms"] > rt["codegen"]["compile_ms"]
    cfg = json.loads(_get(urls["config"]))
    assert cfg["llm.base_url"] == "http://h/v1"
    assert "sk-secret-value" not in json.dumps(cfg)  # masked
    tables = json.loads(_get(urls["tables"]))
    assert any(t["name"] == "admin_panel_probe" for t in tables)


def test_admin_panel_reports_artifact_staging(server, spark, sf_dir, tmp_path, monkeypatch):
    from deva_spark import queries as Q
    from deva_spark.sources.page import admin_panel

    monkeypatch.setenv("DEVA_ARTIFACT_DIR", str(tmp_path))
    urls = admin_panel(server, spark, sf_dir=sf_dir)
    before = json.loads(_get(urls["artifacts"]))
    assert set(before) == set(Q.ARTIFACT_BUILDERS) | set(Q.ARTIFACT_STAGERS)
    assert not any(before.values())
    Q.stage_artifacts(spark, sf_dir, ["cms_cust"])
    after = json.loads(_get(urls["artifacts"]))
    assert [n for n, staged in after.items() if staged] == ["cms_cust"]


def test_admin_panel_monitors_live_stream(server, spark, tmp_path):
    from deva_spark.sources.page import admin_panel

    urls = admin_panel(server, spark)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 5).load()
        .writeStream.format("memory")
        .queryName("admin_probe_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time as _t

        deadline = _t.time() + 15
        names = []
        while _t.time() < deadline:
            rt = json.loads(_get(urls["runtime"]))
            names = [s["name"] for s in rt["streams"]]
            if "admin_probe_stream" in names:
                break
            _t.sleep(0.3)
        assert "admin_probe_stream" in names
    finally:
        stream.stop()


def test_admin_panel_reports_batch_phases_and_state(server, spark, tmp_path):
    from pyspark.sql import functions as F

    from deva_spark.sources.page import admin_panel

    urls = admin_panel(server, spark)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 20).load()
        .groupBy((F.col("value") % 3).alias("k")).count()
        .writeStream.format("memory")
        .queryName("admin_state_probe")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time as _t

        phases = {"walCommit", "commitOffsets", "addBatch", "triggerExecution"}
        deadline = _t.time() + 30
        entry = {}
        while _t.time() < deadline:
            rt = json.loads(_get(urls["runtime"]))
            entry = next(
                (s for s in rt["streams"] if s["name"] == "admin_state_probe"), {}
            )
            ops = entry.get("stateOperators") or [{}]
            if ops[0].get("numRowsTotal") and set(entry["durationMs"]) == phases:
                break  # a batch with data has run
            _t.sleep(0.3)
        assert set(entry["durationMs"]) == phases, entry
        assert all(v >= 0 for v in entry["durationMs"].values())
        (op,) = entry["stateOperators"]
        assert op["commitTimeMs"] >= 0
        assert op["numRowsTotal"] == 3  # one state row per key
    finally:
        stream.stop()


def test_get_routes_ignore_query_strings(spark):
    # r11 review: http.server's self.path carries the raw query string;
    # registered endpoints must still route with ?params.
    import json as _json
    import urllib.request

    from deva_spark.sources.page import PageServer

    srv = PageServer(port=0)
    try:
        srv.put("k", 7)
        srv.add_json("ping", lambda: {"ok": True})
        with urllib.request.urlopen(
            f"http://{srv.host}:{srv.port}/json/ping?cachebust=1"
        ) as r:
            assert _json.loads(r.read())["ok"] is True
        with urllib.request.urlopen(
            f"http://{srv.host}:{srv.port}/data?pretty=1"
        ) as r:
            assert _json.loads(r.read())["k"] == 7
    finally:
        srv.stop()


def test_nw_second_named_server_avoids_port_collision(monkeypatch):
    # r11 review: a second named server whose caller did NOT pick a port
    # must bind ephemerally instead of crashing with EADDRINUSE on the
    # shared default. ADVICE r11 #4: an EXPLICITLY requested port that
    # collides must raise, not silently swap to an ephemeral one.
    import pytest

    from deva_spark.sources import page as pg

    monkeypatch.setattr(pg, "_NAMED", {})
    a = pg.NW("t_collide_a", port=0)
    try:
        # simulate "a holds the shared default": ask for a's actual port
        # via the DEFAULT path by pretending the default is a.port
        with pytest.raises(OSError, match="explicitly requested"):
            pg.NW("t_collide_b", host=a.host, port=a.port)
        assert "t_collide_b" not in pg._NAMED  # failed create not cached
        b = pg.NW("t_collide_b", host=a.host)  # port=None: don't care
        try:
            assert (b.host, b.port) != (a.host, a.port)
            assert pg.NW("t_collide_a") is a  # registry still one-per-name
        finally:
            b.stop()
    finally:
        a.stop()


def test_nw_stopped_server_releases_port_claim(monkeypatch):
    # ADVICE r11 #4: a stopped server left in _NAMED must not keep
    # claiming its port — an explicit request for it succeeds.
    from deva_spark.sources import page as pg

    monkeypatch.setattr(pg, "_NAMED", {})
    a = pg.NW("t_dead_a", port=0)
    freed = a.port
    a.stop()
    assert not a.alive
    b = pg.NW("t_dead_b", host=a.host, port=freed)
    try:
        assert b.port == freed
        # r12 review: the NAME must not resolve to the dead server
        # either — its stale .url could now point at b's content while
        # writes to it vanish. A re-lookup recreates a live server.
        a2 = pg.NW("t_dead_a")
        try:
            assert a2 is not a and a2.alive
        finally:
            a2.stop()
    finally:
        b.stop()
