"""Sink tests: ES bulk-line encoding + retry, ClickHouse coercion
projection, Influx line protocol, Kafka payload shape."""

import datetime
import json

import pytest
from pyspark.sql import Row

from gohangout_spark.sinks import (
    ClickHouseSink,
    ElasticsearchSink,
    InfluxdbSink,
    KafkaSink,
)
from gohangout_spark.sinks.sinks import RRHostSelector

TS = datetime.datetime(2024, 5, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            Row(appid="web1", msg="hello", n=1, ts=TS),
            Row(appid="web2", msg="bye", n=2, ts=TS),
        ]
    ).withColumnRenamed("ts", "@timestamp")


class TestElasticsearch:
    def test_bulk_lines_rendered_index(self, df):
        sink = ElasticsearchSink(
            {"index": "log-%{appid}-%{+2006.01.02}", "id": "[msg]", "index_type": "doc"}
        )
        lines = [r["line"] for r in sink.bulk_lines(df).collect()]
        metas = {json.loads(l.split("\n")[0])["index"]["_index"] for l in lines}
        assert metas == {"log-web1-2024.05.01", "log-web2-2024.05.01"}
        meta0 = json.loads(lines[0].split("\n")[0])["index"]
        assert meta0["_type"] == "doc" and meta0["_id"] in ("hello", "bye")
        src = json.loads(lines[0].split("\n")[1])
        assert src["n"] in (1, 2) and "appid" in src

    def test_source_field_passthrough(self, spark):
        """elasticsearch_output.go:553-566: a pre-encoded source field ships
        VERBATIM (no re-encode), NULL falls back to whole-event encoding, and
        bytes_source_field wins over source_field."""
        df = spark.createDataFrame(
            [
                Row(appid="a1", raw='{"pre":"encoded","n":1}', msg="x"),
                Row(appid="a2", raw=None, msg="y"),
            ]
        )
        sink = ElasticsearchSink({"index": "fixed", "source_field": "[raw]"})
        srcs = [r["line"].split("\n")[1] for r in sink.bulk_lines(df).collect()]
        assert '{"pre":"encoded","n":1}' in srcs  # verbatim
        fallback = next(s for s in srcs if s != '{"pre":"encoded","n":1}')
        ev = json.loads(fallback)
        assert ev["appid"] == "a2" and ev["msg"] == "y"  # whole-event fallback

        # bytes_source_field: binary column, takes precedence over source_field
        bdf = spark.createDataFrame([Row(appid="a1", braw=bytearray(b'{"b":2}'), raw='{"s":1}')])
        bsink = ElasticsearchSink(
            {"index": "fixed", "bytes_source_field": "[braw]", "source_field": "[raw]"}
        )
        bsrc = [r["line"].split("\n")[1] for r in bsink.bulk_lines(bdf).collect()]
        assert bsrc == ['{"b":2}']

    def test_write_batch_via_fake_transport(self, df, tmp_path):
        # transport runs on executor processes — capture via files
        cap = str(tmp_path / "calls")
        import os

        os.makedirs(cap, exist_ok=True)

        def transport(url, payload, _cap=cap):
            import os
            import uuid

            with open(os.path.join(_cap, uuid.uuid4().hex), "w") as f:
                f.write(url + "\n" + payload.decode())
            return 200, '{"errors":false}'

        sink = ElasticsearchSink(
            {"hosts": ["http://es1:9200"], "index": "fixed", "bulk_actions": 1, "compress": False},
            transport=transport,
        )
        sink.write_batch(df)
        files = os.listdir(cap)
        assert len(files) == 2  # bulk_actions=1 → one request per doc
        contents = [open(os.path.join(cap, f)).read() for f in files]
        assert all(c.startswith("http://es1:9200/_bulk\n") for c in contents)

    def test_retry_then_fail(self, df, tmp_path):
        cap = str(tmp_path / "attempts")
        import os

        os.makedirs(cap, exist_ok=True)

        def transport(url, payload, _cap=cap):
            import os
            import uuid

            open(os.path.join(_cap, uuid.uuid4().hex), "w").close()
            return 503, "unavailable"

        sink = ElasticsearchSink(
            {"hosts": ["http://es1:9200"], "index": "x", "retry": 2, "compress": False}, transport=transport
        )
        with pytest.raises(Exception, match="bulk failed"):
            sink.write_batch(df.coalesce(1))
        assert len(os.listdir(cap)) == 3  # initial + 2 retries


class TestHostSelector:
    """output/host_selector.go:23-75 weight decay/recovery semantics."""

    def _sel(self, clk, **kw):
        return RRHostSelector(
            ["a", "b"], clock=lambda: clk["t"], start_index=0, **kw
        )

    def test_failure_storm_decays_then_skips(self):
        clk = {"t": 0.0}
        sel = self._sel(clk, init_weight=2, recover_after_s=60)
        assert sel.next() == "b"  # RR advances past start_index
        sel.reduce_weight()
        sel.reduce_weight()  # b exhausted
        assert sel.weight == [2, 0]
        assert sel.next() == "a" and sel.next() == "a"  # b skipped

    def test_recovery_after_window(self):
        clk = {"t": 0.0}
        sel = self._sel(clk, init_weight=1, recover_after_s=60)
        assert sel.next() == "b"
        sel.reduce_weight()  # b -> 0, recovery armed at t=60
        assert sel.next() == "a"
        clk["t"] = 61.0
        assert sel.next() == "b"  # recovered with weight 1 (not init)
        assert sel.weight[1] == 1

    def test_success_restores_weight_capped(self):
        clk = {"t": 0.0}
        sel = self._sel(clk, init_weight=3)
        sel.next()
        sel.reduce_weight()
        sel.add_weight()
        sel.add_weight()  # capped at init
        assert sel.weight[sel.index] == 3

    def test_all_exhausted_resets_and_signals_wait(self):
        clk = {"t": 0.0}
        sel = self._sel(clk, init_weight=1, recover_after_s=1e9)
        sel.next(); sel.reduce_weight()
        sel.next(); sel.reduce_weight()
        assert sel.next() is None  # caller waits (bulk_http.go:157-161)
        assert sel.weight == [1, 1]  # weights were reset
        assert sel.next() is not None


class TestBulkTriggers:
    def _capture_transport(self, cap):
        def transport(url, payload, _cap=cap):
            import os
            import uuid

            with open(os.path.join(_cap, uuid.uuid4().hex), "w") as f:
                f.write(url + "\n" + payload.decode())
            return 200, '{"errors":false}'

        return transport

    def test_byte_size_trigger(self, df, tmp_path):
        """bulk_size (15 MB default, bulk_http.go:16-20) flushes before the
        action count is reached."""
        import os

        cap = str(tmp_path / "byte_calls")
        os.makedirs(cap, exist_ok=True)
        sink = ElasticsearchSink(
            {
                "hosts": ["http://es1:9200"], "index": "x", "compress": False,
                "bulk_actions": 10_000, "bulk_size": 1,  # every doc exceeds it
            },
            transport=self._capture_transport(cap),
        )
        sink.write_batch(df.coalesce(1))
        assert len(os.listdir(cap)) == 2  # one request per doc

    def test_host_routing_around_failures(self, df, tmp_path):
        """A 5xx storm on one host decays it; the bulk succeeds via the
        healthy host without exhausting retries."""
        import os

        cap = str(tmp_path / "storm_calls")
        os.makedirs(cap, exist_ok=True)

        def transport(url, payload, _cap=cap):
            import os
            import uuid

            host = "bad" if "bad" in url else "good"
            open(os.path.join(_cap, f"{host}-{uuid.uuid4().hex}"), "w").close()
            if host == "bad":
                return 503, "unavailable"
            return 200, '{"errors":false}'

        sink = ElasticsearchSink(
            {
                "hosts": ["http://bad:9200", "http://good:9200"],
                "index": "x", "compress": False, "bulk_actions": 1, "retry": 3,
            },
            transport=transport,
        )
        sink.write_batch(df.coalesce(1))  # must NOT raise
        calls = os.listdir(cap)
        good = [c for c in calls if c.startswith("good")]
        bad = [c for c in calls if c.startswith("bad")]
        assert len(good) == 2  # both bulks landed on the healthy host
        assert len(bad) <= 2  # decayed quickly, not retried per flush


    def test_partial_item_failures_retry_only_retryable(self, df, tmp_path):
        """elasticsearch_output.go:134-179: item status 429/5xx re-bulks
        that doc only; 4xx mapping errors are logged+dropped; the healthy
        host's weight is never decayed by doc-level failures."""
        import json
        import os

        cap = str(tmp_path / "partial")
        os.makedirs(cap, exist_ok=True)

        def transport(url, payload, _cap=cap):
            import json
            import os
            import uuid

            n = sorted(os.listdir(_cap))
            with open(os.path.join(_cap, f"{len(n)}-{uuid.uuid4().hex}"), "w") as f:
                f.write(payload.decode())
            docs = payload.decode().strip().split("\n")
            n_actions = len(docs) // 2  # meta+source per action
            if len(n) == 0:
                # first bulk: doc0 throttled (retry), doc1 mapping error
                # (drop), rest ok
                items = [{"index": {"status": 429}}, {"index": {"status": 400}}]
                items += [{"index": {"status": 201}}] * (n_actions - 2)
                return 200, json.dumps({"errors": True, "items": items})
            return 200, '{"errors":false}'

        sink = ElasticsearchSink(
            {"hosts": ["http://es1:9200"], "index": "x", "compress": False,
             "bulk_actions": 10, "retry": 2},
            transport=transport,
        )
        sink.write_batch(df.coalesce(1))  # must NOT raise
        calls = sorted(os.listdir(cap))
        assert len(calls) == 2
        resent = open(os.path.join(cap, calls[1])).read().strip().split("\n")
        assert len(resent) == 2  # exactly the throttled doc (meta+source)

    def test_unparseable_bulk_response_drops_batch(self, df, tmp_path):
        """Malformed errors:true response: "will NOT retry"
        (elasticsearch_output.go:143-144) — batch dropped, no crash, host
        not punished."""
        import os

        cap = str(tmp_path / "unparse")
        os.makedirs(cap, exist_ok=True)

        def transport(url, payload, _cap=cap):
            import os
            import uuid

            open(os.path.join(_cap, uuid.uuid4().hex), "w").close()
            return 200, '{"errors":true}'  # no items array

        sink = ElasticsearchSink(
            {"hosts": ["http://es1:9200"], "index": "x", "compress": False,
             "bulk_actions": 10, "retry": 2},
            transport=transport,
        )
        sink.write_batch(df.coalesce(1))  # no raise
        assert len(os.listdir(cap)) == 1  # single attempt, then dropped


class TestSniff:
    """Node sniffing (elasticsearch_output.go:410-498): /_nodes/_all/http
    discovery, condition-DSL match over node maps, periodic refresh."""

    _NODES = json.dumps(
        {
            "nodes": {
                "n1": {
                    "attributes": {"box_type": "hot"},
                    "http": {"publish_address": "10.0.0.1:9200"},
                },
                "n2": {
                    "attributes": {"box_type": "warm"},
                    "http": {"publish_address": "es2/10.0.0.2:9200"},
                },
                "n3": {"attributes": {"box_type": "hot"}, "http": {}},
            }
        }
    )

    def test_sniff_filters_and_assembles_hosts(self):
        def transport(url, payload):
            assert url.endswith("/_nodes/_all/http") and payload is None
            return 200, self._NODES

        sink = ElasticsearchSink(
            {
                "hosts": ["https://user:pw@seed:9200"],
                "sniff": {"match": 'EQ($.attributes.box_type,"hot")'},
            },
            transport=transport,
        )
        # n1 passes match; n2 is warm; n3 has no publish_address
        assert sink.hosts == ["https://user:pw@10.0.0.1:9200"]
        assert sink.seed_hosts == ["https://user:pw@seed:9200"]

    def test_sniff_no_match_keeps_all(self):
        sink = ElasticsearchSink(
            {"hosts": ["http://seed:9200"], "sniff": {}},
            transport=lambda url, payload: (200, self._NODES),
        )
        assert sorted(sink.hosts) == [
            "http://10.0.0.1:9200",
            "http://10.0.0.2:9200",  # hostname/ip form keeps ip:port
        ]

    def test_sniff_refresh_swaps_hosts(self, monkeypatch):
        state = {"body": self._NODES}

        def transport(url, payload):
            return 200, state["body"]

        sink = ElasticsearchSink(
            {"hosts": ["http://seed:9200"], "sniff": {"refresh_interval": 1}},
            transport=transport,
        )
        assert len(sink.hosts) == 2
        state["body"] = json.dumps(
            {"nodes": {"n9": {"http": {"publish_address": "10.9.9.9:9200"}}}}
        )
        assert sink.maybe_resniff() is False  # interval not elapsed
        sink._next_sniff = 0.0  # force elapse
        assert sink.maybe_resniff() is True
        assert sink.hosts == ["http://10.9.9.9:9200"]

    def test_sniff_all_seeds_down_raises(self):
        with pytest.raises(RuntimeError, match="sniff nodes error"):
            ElasticsearchSink(
                {"hosts": ["http://a:9200", "http://b:9200"], "sniff": {}},
                transport=lambda url, payload: (599, "down"),
            )

    def test_dict_condition_dsl(self):
        from gohangout_spark.expr.conditions import evaluate_condition

        node = {
            "name": "data-1",
            "roles": ["data", "ingest"],
            "attributes": {"box_type": "hot", "zone": "a"},
        }
        assert evaluate_condition('EQ($.attributes.box_type,"hot")', node)
        assert evaluate_condition('IN(roles,"data") && HasPrefix(name,"data")', node)
        assert evaluate_condition('!EQ($.attributes.zone,"b")', node)
        assert not evaluate_condition('Exist(missing) || Contains(name,"xyz")', node)
        assert evaluate_condition('Match(name,"data-\\d+")', node)


class TestClickHouse:
    def test_coercion_projection(self, spark):
        df = spark.createDataFrame([Row(a="12", b=None, extra="x"), Row(a="oops", b=3.5, extra="y")])
        sink = ClickHouseSink(
            {"table": "t"},
            table_schema={"a": "Int64", "b": "Float64", "c": "String", "d": "Nullable(Int32)"},
        )
        out = sink.projection(df)
        assert out.columns == ["a", "b", "c", "d"]
        rows = out.collect()
        byid = {r["b"]: r for r in rows}
        ok = byid[0.0]  # b null -> default 0.0
        assert ok["a"] == 12 and ok["c"] == "" and ok["d"] is None
        bad = byid[3.5]
        assert bad["a"] == 0  # failed cast -> non-nullable default

    def test_write_without_jdbc_or_hosts_raises(self, spark):
        df = spark.createDataFrame([Row(a=1)])
        sink = ClickHouseSink({"table": "t"}, table_schema={"a": "Int64"})
        with pytest.raises(NotImplementedError):
            sink.write_batch(df)

    def test_http_jsoneachrow_write(self, spark, tmp_path):
        """Jar-free write path: coerced rows go as NDJSON to
        /?query=INSERT INTO t FORMAT JSONEachRow via the shared bulk
        engine; 200 = success."""
        import json
        import os

        cap = str(tmp_path / "ch")
        os.makedirs(cap, exist_ok=True)

        def transport(url, payload, _cap=cap):
            import os
            import uuid

            with open(os.path.join(_cap, uuid.uuid4().hex), "w") as f:
                f.write(url + "\n" + payload.decode())
            return 200, ""

        df = spark.createDataFrame([Row(a="12", b=1.5), Row(a="7", b=None)])
        sink = ClickHouseSink(
            {"table": "t", "hosts": ["http://ch:8123"], "compress": False},
            table_schema={"a": "Int64", "b": "Float64"},
            transport=transport,
        )
        sink.write_batch(df.coalesce(1))
        files = os.listdir(cap)
        assert len(files) == 1
        url, body = open(os.path.join(cap, files[0])).read().split("\n", 1)
        assert url.startswith("http://ch:8123/?query=INSERT%20INTO%20t%20FORMAT%20JSONEachRow")
        assert "date_time_input_format=best_effort" in url
        got = sorted(
            (json.loads(l) for l in body.strip().split("\n")), key=lambda d: d["a"]
        )
        assert got == [{"a": 7, "b": 0.0}, {"a": 12, "b": 1.5}]

    def test_default_expressions_nonliteral_fall_back(self, spark):
        """now()/computed DEFAULT expressions can't be evaluated client-side:
        they must fall back to the type default, not crash construction."""
        body = """{"data": [
            {"name": "ts", "type": "DateTime", "default_type": "DEFAULT", "default_expression": "now()"},
            {"name": "n", "type": "Int64", "default_type": "DEFAULT", "default_expression": "1 + 2"},
            {"name": "d", "type": "DateTime", "default_type": "DEFAULT", "default_expression": "'2020-05-01 00:00:00'"}
        ]}"""
        sink = ClickHouseSink(
            {"table": "weblog", "hosts": ["http://ch:8123"]},
            transport=lambda url, payload: (200, body),
        )
        assert sink.column_defaults["ts"] == "1970-01-01 00:00:00"
        assert sink.column_defaults["n"] == 0
        assert sink.column_defaults["d"] == "2020-05-01 00:00:00"

    def test_http_write_retries_on_5xx(self, spark, tmp_path):
        import os

        cap = str(tmp_path / "chr")
        os.makedirs(cap, exist_ok=True)

        def transport(url, payload, _cap=cap):
            import os
            import uuid

            n = len(os.listdir(_cap))
            open(os.path.join(_cap, uuid.uuid4().hex), "w").write(str(n))
            return (500, "boom") if n == 0 else (200, "")

        df = spark.createDataFrame([Row(a="1")])
        sink = ClickHouseSink(
            {"table": "t", "hosts": ["http://ch:8123"], "compress": False},
            table_schema={"a": "Int64"},
            transport=transport,
        )
        sink.write_batch(df.coalesce(1))
        assert len(os.listdir(cap)) == 2  # one failure, one success

    def test_no_host_wait_is_honoured(self, spark):
        """The one host's weight (3) is spent by the first three tries; the
        fourth waits no_host_wait for the weights to reset, not 30 s."""
        import time

        sink = ClickHouseSink(
            {"table": "t", "hosts": ["http://ch:8123"], "retry": 3,
             "no_host_wait": 0.01},
            table_schema={"a": "Int64"},
            transport=lambda url, payload: (503, "unavailable"),
        )
        df = spark.createDataFrame([Row(a="1")]).coalesce(1)
        t0 = time.monotonic()
        with pytest.raises(Exception, match="bulk failed after 4 tries"):
            sink.write_batch(df)
        assert time.monotonic() - t0 < 10

    # recorded DESC TABLE response (ClickHouse HTTP interface, FORMAT JSON) —
    # covers plain types, Nullable, LowCardinality, Enum8, Array, and a
    # server-declared DEFAULT expression
    _DESC_BODY = """{"data": [
        {"name": "ts", "type": "DateTime", "default_type": "", "default_expression": ""},
        {"name": "appid", "type": "LowCardinality(String)", "default_type": "", "default_expression": ""},
        {"name": "status", "type": "Enum8('' = 0, 'ok' = 1, 'err' = 2)", "default_type": "", "default_expression": ""},
        {"name": "n", "type": "Int64", "default_type": "DEFAULT", "default_expression": "42"},
        {"name": "score", "type": "Nullable(Float64)", "default_type": "", "default_expression": ""},
        {"name": "ids", "type": "Array(Int64)", "default_type": "", "default_expression": ""},
        {"name": "ip", "type": "IPv4", "default_type": "", "default_expression": ""}
    ]}"""

    def _transport(self, log=None):
        def t(url, payload):
            if log is not None:
                log.append(url)
            assert "DESC%20TABLE%20weblog" in url
            return 200, self._DESC_BODY
        return t

    def test_live_desc_drives_schema_and_defaults(self, spark):
        """Mirror clickhouse_output.go:65-153 (DESC-derived column set) and
        :156-248 (type + DEFAULT-expression defaults)."""
        sink = ClickHouseSink(
            {"table": "weblog", "hosts": ["http://ch1:8123"]},
            transport=self._transport(),
        )
        assert sink.table_schema == {
            "ts": "DateTime", "appid": "LowCardinality(String)", "status": "Enum8",
            "n": "Int64", "score": "Nullable(Float64)", "ids": "Array(Int64)",
            "ip": "IPv4",
        }
        assert sink.column_defaults["n"] == 42  # server DEFAULT expression
        assert sink.column_defaults["status"] == ""
        assert sink.column_defaults["ip"] == "0.0.0.0"

        df = spark.createDataFrame(
            [("web", None, 1.5, "drop-me")],
            schema="appid string, n bigint, score double, junk string",
        )
        out = sink.projection(df)
        assert out.columns == ["ts", "appid", "status", "n", "score", "ids", "ip"]
        r = out.first()
        assert r["n"] == 42  # null filled from the DESC default, not 0
        assert r["appid"] == "web" and r["status"] == "" and r["ip"] == "0.0.0.0"
        assert r["ids"] == [] and r["score"] == 1.5

    def test_desc_failover_to_second_host(self, spark):
        calls = []

        def flaky(url, payload):
            calls.append(url)
            if "ch1" in url:
                return 599, "connection refused"
            return 200, self._DESC_BODY

        sink = ClickHouseSink(
            {"table": "weblog", "hosts": ["http://ch1:8123", "http://ch2:8123"]},
            transport=flaky,
        )
        assert len(calls) == 2 and "ch2" in calls[1]
        assert sink.table_schema["n"] == "Int64"

    def test_desc_materialized_rejected(self):
        body = ('{"data": [{"name": "x", "type": "Int64", '
                '"default_type": "MATERIALIZED", "default_expression": "y*2"}]}')
        with pytest.raises(ValueError, match="MATERIALIZED"):
            ClickHouseSink(
                {"table": "weblog", "hosts": ["http://ch1:8123"]},
                transport=lambda url, payload: (200, body),
            )


class TestInflux:
    def test_line_protocol(self, df):
        sink = InfluxdbSink(
            {"measurement": "events", "tags": ["appid"], "fields": ["n"]}
        )
        lines = sorted(r["line"] for r in sink.lines(df).collect())
        assert lines[0] == f"events,appid=web1 n=1i {int(TS.timestamp()*1e9)}"

    def test_write_batch_posts_lines(self, df, tmp_path):
        """influxdb_output.go:180-210: lines go to /write?db=… via the
        shared bulk engine; 204 = success."""
        import os

        cap = str(tmp_path / "influx")
        os.makedirs(cap, exist_ok=True)

        def transport(url, payload, _cap=cap):
            import os
            import uuid

            with open(os.path.join(_cap, uuid.uuid4().hex), "w") as f:
                f.write(url + "\n" + payload.decode())
            return 204, ""

        sink = InfluxdbSink(
            {
                "measurement": "events", "tags": ["appid"], "fields": ["n"],
                "hosts": ["http://influx:8086"], "db": "metrics",
                "compress": False,
            },
            transport=transport,
        )
        sink.write_batch(df.coalesce(1))
        files = os.listdir(cap)
        assert len(files) == 1
        content = open(os.path.join(cap, files[0])).read()
        url, body = content.split("\n", 1)
        assert url == "http://influx:8086/write?db=metrics"
        assert "events,appid=web1 n=1i" in body and "events,appid=web2 n=2i" in body


class TestKafkaPayload:
    def test_json_value_and_key(self, df):
        sink = KafkaSink({"brokers": "b:9092", "topic": "t", "key": "[appid]"})
        rows = sink.payload(df).collect()
        assert {r["key"] for r in rows} == {"web1", "web2"}
        v = json.loads(rows[0]["value"])
        assert set(v) >= {"appid", "msg", "n"}


    def test_gzip_payload(self, df, tmp_path):
        import gzip as _gzip
        import os

        cap = str(tmp_path / "gz")
        os.makedirs(cap, exist_ok=True)

        def transport(url, payload, _cap=cap):
            import os, uuid

            with open(os.path.join(_cap, uuid.uuid4().hex), "wb") as f:
                f.write(payload)
            return 200, '{"errors":false}'

        sink = ElasticsearchSink({"hosts": ["http://es:9200"], "index": "x"}, transport=transport)
        sink.write_batch(df.coalesce(1))
        files = os.listdir(cap)
        raw = open(os.path.join(cap, files[0]), "rb").read()
        assert raw[:2] == b"\x1f\x8b"  # gzip by default, like the reference
        assert b'"_index":"x"' in _gzip.decompress(raw)


class TestTCP:
    def test_tcp_sink_json_lines(self, spark):
        """Replicates the itest-tcp shape: events over a socket, counted
        at the server (test/itest-tcp.sh expects exact line counts)."""
        import json as _json
        import socket
        import socketserver
        import threading

        received = []

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                for line in self.rfile:
                    received.append(line.decode().strip())

        server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
        server.daemon_threads = True
        port = server.server_address[1]
        t = threading.Thread(target=server.serve_forever, daemon=True)
        t.start()
        try:
            from gohangout_spark.sinks import TCPSink

            df = spark.range(200).selectExpr("id", "CAST(id AS STRING) AS msg")
            TCPSink({"host": "127.0.0.1", "port": port}).write_batch(df)
            import time

            deadline = time.time() + 10
            while time.time() < deadline and len(received) < 200:
                time.sleep(0.2)
        finally:
            server.shutdown()
            server.server_close()
        assert len(received) == 200
        parsed = _json.loads(received[0])
        assert set(parsed) == {"id", "msg"}


class TestFileSink:
    def test_zorder_by_option(self, spark, tmp_path):
        """zorder_by re-lays rows before writing; data round-trips intact
        and both zordered columns' per-file spans shrink (file skipping)."""
        import glob

        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from gohangout_spark.sinks import FileSink

        df = spark.range(2048).select(
            (F.col("id") % 32).alias("x"), F.floor(F.col("id") / 32).alias("y")
        ).repartition(8)
        path = str(tmp_path / "zo")
        FileSink(
            {
                "path": path,
                "zorder_by": ["x", "y"],
                "zorder_partitions": 16,
                "mode": "overwrite",
            }
        ).write_batch(df)
        back = spark.read.parquet(path)
        assert back.count() == 2048
        spans = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            i = md.schema.names.index("y")
            st = md.row_group(0).column(i).statistics
            spans.append(st.max - st.min)
        # 16 z-partitions over a 32x64 grid: each file covers a compact
        # hypercube, far below the full 0..63 y range a linear-by-x layout
        # would leave per file
        assert sum(spans) / len(spans) < 32, spans

    def test_bloom_filter_columns(self, spark, tmp_path):
        """bloom_filter_columns writes per-column parquet bloom filters —
        verified by the on-disk footprint delta (pyarrow here doesn't
        surface bloom offsets) and an unchanged roundtrip."""
        import glob
        import os

        from pyspark.sql import functions as F

        from gohangout_spark.sinks import FileSink

        df = spark.range(20000).select(
            F.md5(F.col("id").cast("string")).alias("h"), F.col("id")
        ).coalesce(1)
        plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
        FileSink({"path": plain, "mode": "overwrite"}).write_batch(df)
        FileSink(
            {
                "path": bloomed,
                "mode": "overwrite",
                "bloom_filter_columns": {"h": 20000},
            }
        ).write_batch(df)
        size = lambda p: sum(
            os.path.getsize(f) for f in glob.glob(p + "/*.parquet")
        )
        assert size(bloomed) > size(plain) + 4096  # the filter bits are there
        assert spark.read.parquet(bloomed).count() == 20000

    def test_batch_partitioned_sized(self, spark, tmp_path):
        """partition_by produces hive-style dirs (downstream partition
        pruning); max_records_per_file bounds file size; round-trips."""
        import os

        from gohangout_spark.sinks import FileSink

        out = str(tmp_path / "part_out")
        df = spark.range(100).selectExpr(
            "id", "CAST(id % 2 AS STRING) AS shard", "CAST(id AS STRING) AS body"
        )
        FileSink(
            {
                "path": out,
                "partition_by": "shard",
                "max_records_per_file": 10,
                "compression": "snappy",
            }
        ).write_batch(df)
        assert sorted(
            d for d in os.listdir(out) if d.startswith("shard=")
        ) == ["shard=0", "shard=1"]
        files = [
            f
            for d in os.listdir(out)
            if d.startswith("shard=")
            for f in os.listdir(os.path.join(out, d))
            if f.endswith(".parquet")
        ]
        assert len(files) >= 10  # 100 rows / <=10 per file
        back = spark.read.parquet(out)
        assert back.count() == 100
        assert set(back.columns) == {"id", "shard", "body"}

    def test_streaming_native_exactly_once(self, spark, tmp_path):
        """A single unconditional FileSink streams through the NATIVE file
        sink (_spark_metadata commit log => exactly-once), and a restart
        from the same checkpoint does not duplicate rows."""
        import os

        from gohangout_spark.pipeline import Pipeline

        src = str(tmp_path / "fs_src")
        out = str(tmp_path / "fs_out")
        ck = str(tmp_path / "fs_ck")
        spark.range(50).selectExpr(
            "id", "CAST(id AS STRING) AS body"
        ).coalesce(1).write.mode("append").parquet(src)

        yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- Add:
    fields: {{stage: packed}}
timestamp_field: ts
outputs:
- File:
    path: "{out}"
    format: parquet
"""

        def run_once():
            p = Pipeline.from_config(yml, is_text=True)
            queries = p.run_streaming(spark, checkpoint=ck)
            try:
                for q in queries:
                    q.processAllAvailable()
            finally:
                for q in queries:
                    q.stop()

        run_once()
        assert os.path.isdir(os.path.join(out, "_spark_metadata"))  # native sink
        assert spark.read.parquet(out).count() == 50

        # more data while down; resume from the same checkpoint
        spark.range(50, 80).selectExpr(
            "id", "CAST(id AS STRING) AS body"
        ).coalesce(1).write.mode("append").parquet(src)
        run_once()
        back = spark.read.parquet(out)
        assert back.count() == 80  # no duplicates, no loss
        assert back.filter("stage = 'packed'").count() == 80

    def test_streaming_multi_source_uses_foreachbatch(self, spark, tmp_path):
        """TWO sources + one FileSink must NOT take the native path: two
        queries sharing one output's _spark_metadata commit log would
        drop/corrupt batches. The fallback (foreachBatch) writes plain
        parquet — asserted by the absence of _spark_metadata and by both
        sources' rows arriving."""
        import os

        from gohangout_spark.pipeline import Pipeline

        src1 = str(tmp_path / "ms_src1")
        src2 = str(tmp_path / "ms_src2")
        out = str(tmp_path / "ms_out")
        spark.range(10).selectExpr("id", "'s1' AS src").write.parquet(src1)
        spark.range(10, 30).selectExpr("id", "'s2' AS src").write.parquet(src2)
        yml = f"""
inputs:
- File:
    path: "{src1}"
    format: parquet
- File:
    path: "{src2}"
    format: parquet
filters: []
timestamp_field: ts
outputs:
- File:
    path: "{out}"
    format: parquet
"""
        p = Pipeline.from_config(yml, is_text=True)
        queries = p.run_streaming(spark, checkpoint=str(tmp_path / "ms_ck"))
        try:
            for q in queries:
                q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()
        assert not os.path.isdir(os.path.join(out, "_spark_metadata"))
        back = spark.read.parquet(out)
        assert back.count() == 30
        assert back.select("src").distinct().count() == 2


class TestMicroBatchDrain:
    """Which side of ``bulk_send_lines`` a batch takes: a streaming
    micro-batch with no more rows than ``bulk_actions`` is one request sent
    from the driver; a larger one, and every batch job, drains
    partition-wise."""

    @staticmethod
    def _source(spark, tmp_path, n_rows, n_files):
        """n_rows ids spread over n_files parquet files (one partition each)."""
        src = str(tmp_path / "src")
        spark.range(n_rows).selectExpr(
            "id", "CAST(id AS STRING) AS body"
        ).repartition(n_files, "id").write.parquet(src)
        return src

    @staticmethod
    def _transport(cap, status=200):
        """Records each request body as a file (the sender may run on the
        driver or in a Python worker)."""
        import os

        os.makedirs(cap, exist_ok=True)

        def transport(url, payload, _cap=cap, _status=status):
            import os
            import uuid

            with open(os.path.join(_cap, uuid.uuid4().hex), "w") as f:
                f.write(payload.decode())
            if _status != 200:
                return _status, "unavailable"
            return 200, '{"errors":false}'

        return transport

    @staticmethod
    def _requests(cap) -> list[list[int]]:
        """Document ids per request (each doc is a meta line + a source line)."""
        import os

        out = []
        for name in os.listdir(cap):
            lines = open(os.path.join(cap, name)).read().strip().split("\n")
            out.append([json.loads(src)["id"] for src in lines[1::2]])
        return out

    @staticmethod
    def _pipeline(src, transport, **es_conf):
        from gohangout_spark.pipeline import Pipeline

        conf = {
            "inputs": [{"File": {"path": src, "format": "parquet"}}],
            "filters": [],
            "timestamp_field": "ts",
            "outputs": [{"Elasticsearch": {
                "hosts": ["http://es1:9200"], "index": "x", "compress": False,
                **es_conf,
            }}],
        }
        return Pipeline.from_config(conf, sink_overrides={
            "Elasticsearch": lambda c: ElasticsearchSink(c, transport=transport),
        })

    def _stream(self, spark, pipe, ck):
        (q,) = pipe.run_streaming(spark, checkpoint=ck)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def test_small_micro_batch_is_one_request(self, spark, tmp_path):
        src = self._source(spark, tmp_path, 12, 4)
        assert spark.read.parquet(src).rdd.getNumPartitions() > 1
        cap = str(tmp_path / "calls")
        pipe = self._pipeline(src, self._transport(cap))
        self._stream(spark, pipe, str(tmp_path / "ck"))
        reqs = self._requests(cap)
        assert len(reqs) == 1
        assert sorted(reqs[0]) == list(range(12))

    def test_large_micro_batch_drains_partition_wise(self, spark, tmp_path):
        src = self._source(spark, tmp_path, 10, 2)
        per_part = sorted(
            len(p) for p in spark.read.parquet(src).rdd.glom().collect()
        )
        cap = str(tmp_path / "calls")
        pipe = self._pipeline(src, self._transport(cap), bulk_actions=2)
        self._stream(spark, pipe, str(tmp_path / "ck"))
        reqs = self._requests(cap)
        # each partition flushes every 2 docs, plus its remainder
        assert len(reqs) == sum((n + 1) // 2 for n in per_part)
        assert all(len(r) <= 2 for r in reqs)
        assert sorted(i for r in reqs for i in r) == list(range(10))

        # a batch job never takes the driver drain, however small
        batch_cap = str(tmp_path / "batch_calls")
        self._pipeline(src, self._transport(batch_cap)).run_batch(spark)
        batch_reqs = self._requests(batch_cap)
        assert len(batch_reqs) == len(per_part)
        assert sorted(i for r in batch_reqs for i in r) == list(range(10))

    def test_retry_exhaustion_fails_query_and_restart_is_exactly_once(
        self, spark, tmp_path
    ):
        """Every try of the epoch answers 5xx: the query terminates with the
        sender's error. A restart from the same checkpoint with a healthy
        receiver replays the epoch, and each document arrives once."""
        from pyspark.errors import StreamingQueryException

        src = self._source(spark, tmp_path, 12, 4)
        ck = str(tmp_path / "ck")
        down = str(tmp_path / "down")
        pipe = self._pipeline(
            src, self._transport(down, status=503), retry=1, no_host_wait=0
        )
        (q,) = pipe.run_streaming(spark, checkpoint=ck)
        try:
            with pytest.raises(StreamingQueryException):
                q.processAllAvailable()
            assert not q.isActive
            assert "bulk failed after 2 tries" in str(q.exception())
        finally:
            q.stop()
        assert len(self._requests(down)) == 2  # one request, retried once

        up = str(tmp_path / "up")
        self._stream(spark, self._pipeline(src, self._transport(up)), ck)
        reqs = self._requests(up)
        assert sorted(i for r in reqs for i in r) == list(range(12))


class FakeClickHouseHTTP:
    """In-process HTTP server speaking the ClickHouse HTTP interface's
    wire shape (VERDICT r7 #7): serves ``DESC TABLE <t> FORMAT JSON``
    responses and accepts ``INSERT INTO <t> FORMAT JSONEachRow`` bodies
    (gunzipping when Content-Encoding: gzip), recording every request so
    tests assert the rendered coercion byte-for-byte. Real sockets, the
    sink's REAL default urllib transport — no transport fake."""

    def __init__(self, desc_body: str, insert_status: int = 200):
        import http.server
        import threading

        server = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def _handle(self):
                from urllib.parse import parse_qs, urlparse

                q = parse_qs(urlparse(self.path).query).get("query", [""])[0]
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n) if n else b""
                if self.headers.get("Content-Encoding") == "gzip":
                    import gzip

                    body = gzip.decompress(body)
                    gz = True
                else:
                    gz = False
                server.requests.append(
                    {"path": self.path, "query": q, "body": body, "gzip": gz}
                )
                if q.startswith("DESC TABLE"):
                    out, status = server.desc_body.encode(), 200
                elif q.startswith("INSERT INTO"):
                    out, status = b"", server.insert_status
                else:
                    out, status = b"unknown query", 400
                self.send_response(status)
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)

            do_GET = _handle
            do_POST = _handle

            def log_message(self, *a):  # quiet
                pass

        self.desc_body = desc_body
        self.insert_status = insert_status
        self.requests: list[dict] = []
        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.httpd.shutdown()
        self.httpd.server_close()


class TestClickHouseLiveHTTP:
    """The recorded-DESC tests above prove the parsing; these prove the
    WIRE — live DESC over real HTTP through the default urllib
    transport, and the INSERT body's exact rendered bytes. Remaining
    waiver (docs/COVERAGE.md): real-server auth and server-side
    semantics only."""

    _DESC = """{"data": [
        {"name": "appid", "type": "String", "default_type": "", "default_expression": ""},
        {"name": "n", "type": "Int64", "default_type": "DEFAULT", "default_expression": "42"},
        {"name": "score", "type": "Nullable(Float64)", "default_type": "", "default_expression": ""}
    ]}"""

    def test_live_desc_and_insert_bytes(self, spark):
        with FakeClickHouseHTTP(self._DESC) as srv:
            sink = ClickHouseSink({"table": "weblog", "hosts": [srv.url]})
            assert sink.table_schema == {
                "appid": "String", "n": "Int64", "score": "Nullable(Float64)",
            }
            assert sink.column_defaults["n"] == 42

            df = spark.createDataFrame(
                [("web", None, 1.5), ("api", 7, None)],
                schema="appid string, n bigint, score double",
            )
            sink.write_batch(df.coalesce(1))

        descs = [r for r in srv.requests if r["query"].startswith("DESC")]
        inserts = [r for r in srv.requests if r["query"].startswith("INSERT")]
        assert len(descs) == 1 and len(inserts) == 1
        ins = inserts[0]
        # endpoint shape: INSERT INTO <table> FORMAT JSONEachRow with the
        # best_effort datetime knob on the query string
        assert ins["query"] == "INSERT INTO weblog FORMAT JSONEachRow"
        assert "date_time_input_format=best_effort" in ins["path"]
        assert ins["gzip"]  # default compress=True actually compressed
        # the rendered coercion, byte-for-byte: DESC column order, the
        # server DEFAULT (42) filling the null non-nullable, the Nullable
        # column emitted as null (to_json drops null keys)
        assert ins["body"] == (
            b'{"appid":"web","n":42,"score":1.5}\n'
            b'{"appid":"api","n":7}\n'
        )

    def test_insert_failover_and_retry_on_5xx(self, spark):
        """First host 500s the INSERT: the bulk engine must retry the SAME
        bytes against the second host (host RR + per-bulk retry)."""
        with FakeClickHouseHTTP(self._DESC, insert_status=500) as bad, \
             FakeClickHouseHTTP(self._DESC) as good:
            sink = ClickHouseSink(
                {"table": "weblog", "hosts": [bad.url, good.url], "retry": 3},
            )
            df = spark.createDataFrame([("web", 1, 2.0)],
                                       "appid string, n bigint, score double")
            sink.write_batch(df.coalesce(1))
            ok = [r for r in good.requests if r["query"].startswith("INSERT")]
            assert len(ok) == 1
            assert ok[0]["body"] == b'{"appid":"web","n":1,"score":2.0}\n'

    def test_materialized_column_rejected_over_live_wire(self):
        desc = """{"data": [
            {"name": "a", "type": "Int64", "default_type": "MATERIALIZED", "default_expression": "b * 2"}
        ]}"""
        with FakeClickHouseHTTP(desc) as srv:
            with pytest.raises(ValueError, match="MATERIALIZED"):
                ClickHouseSink({"table": "t", "hosts": [srv.url]})


# The in-process ES HTTP fake moved into the package (sinks/es_dev.py)
# so runnable examples can compose it with the Kafka wire tier — same
# doctrine as FakeKafkaBroker living in sources/kafka_wire.py.
from gohangout_spark.sinks.es_dev import FakeElasticsearchHTTP  # noqa: E402


class TestElasticsearchLiveHTTP:
    """The transport-faked tests above prove encoding/retry logic; these
    prove the WIRE through the sink's REAL default urllib transport —
    live sniff discovery, the exact NDJSON bulk bytes (gzipped), per-item
    429 re-bulk, and transport-level failover. Remaining waiver:
    real-cluster auth/mappings only (docs/COVERAGE.md)."""

    def test_live_bulk_bytes_and_gzip(self, spark):
        with FakeElasticsearchHTTP() as srv:
            sink = ElasticsearchSink(
                {
                    "hosts": [srv.url],
                    "index": "web-%{appid}",
                    "id": "%{doc}",
                }
            )
            df = spark.createDataFrame(
                [("a1", "d1", 5), ("a2", "d2", 6)], "appid string, doc string, n long"
            )
            sink.write_batch(df.coalesce(1))
        bulks = [r for r in srv.requests if r["path"] == "/_bulk"]
        assert len(bulks) == 1 and bulks[0]["gzip"]
        assert bulks[0]["body"] == (
            b'{"index":{"_index":"web-a1","_id":"d1"}}\n'
            b'{"appid":"a1","doc":"d1","n":5}\n'
            b'{"index":{"_index":"web-a2","_id":"d2"}}\n'
            b'{"appid":"a2","doc":"d2","n":6}\n'
        )

    def test_live_sniff_discovers_and_filters_nodes(self, spark):
        with FakeElasticsearchHTTP() as srv:
            port = srv.url.rsplit(":", 1)[1]
            srv.nodes = {
                "n1": {
                    "http": {"publish_address": f"es1/127.0.0.1:{port}"},
                    "roles": ["data"],
                },
                "n2": {
                    "http": {"publish_address": "other/10.9.9.9:9200"},
                    "roles": ["master"],
                },
            }
            sink = ElasticsearchSink(
                {
                    "hosts": [srv.url],
                    "index": "t",
                    "sniff": {"match": 'IN($.roles,"data")'},
                }
            )
            # only the data node passing the match survives, and its
            # publish_address host:port replaces the seed
            assert sink.hosts == [f"http://127.0.0.1:{port}"]
            sink.write_batch(
                spark.createDataFrame([("x",)], "appid string").coalesce(1)
            )
            assert any(r["path"] == "/_bulk" for r in srv.requests)

    def test_per_item_429_rebulks_only_that_doc(self, spark):
        with FakeElasticsearchHTTP(item_scripts=[[429, 200]]) as srv:
            sink = ElasticsearchSink(
                {"hosts": [srv.url], "index": "t", "id": "%{doc}", "retry": 3}
            )
            df = spark.createDataFrame([("d1",), ("d2",)], "doc string")
            sink.write_batch(df.coalesce(1))
        bulks = [r for r in srv.requests if r["path"] == "/_bulk"]
        assert len(bulks) == 2
        # second bulk carries ONLY the 429'd action+source pair
        assert bulks[1]["body"] == (
            b'{"index":{"_index":"t","_id":"d1"}}\n{"doc":"d1"}\n'
        )

    def test_transport_level_failure_fails_over(self, spark):
        with FakeElasticsearchHTTP(bulk_status=503) as bad, \
             FakeElasticsearchHTTP() as good:
            sink = ElasticsearchSink(
                {"hosts": [bad.url, good.url], "index": "t", "retry": 4,
                 "no_host_wait": 0.01}
            )
            sink.write_batch(
                spark.createDataFrame([("d1",)], "doc string").coalesce(1)
            )
            assert any(r["path"] == "/_bulk" for r in good.requests)
