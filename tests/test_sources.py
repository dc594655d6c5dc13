"""Source + codec tests: plain/json decode semantics (codec/plain_decoder.go,
codec/json_decoder.go), Kafka option building, Random distribution."""

import json

import pytest
from pyspark.sql import Row

from gohangout_spark.sources import KafkaSource, RandomSource, apply_codec


@pytest.fixture()
def raw(spark):
    return spark.createDataFrame(
        [Row(value='{"name":"childe","age":"20"}'), Row(value="not json {")]
    )


class TestCodecs:
    def test_plain(self, spark, raw):
        out = apply_codec(raw, "plain")
        rows = out.collect()
        assert set(out.columns) == {"@timestamp", "message"}
        assert rows[0]["message"].startswith('{"name"')
        assert rows[0]["@timestamp"] is not None

    def test_json_with_schema_fallback(self, spark, raw):
        out = apply_codec(raw, "json", schema="name string, age string")
        rows = {r["message"]: r for r in out.collect()}
        ok = rows[None]  # parsed fine -> message null
        assert ok["name"] == "childe" and ok["age"] == "20"
        bad = rows["not json {"]  # malformed -> raw kept in message (fallback)
        assert bad["name"] is None

    def test_json_schemaless_map(self, spark, raw):
        out = apply_codec(raw, "json")
        rows = out.collect()
        parsed = [r for r in rows if r["event"] is not None][0]
        assert parsed["event"]["name"] == "childe"

    def test_unknown_codec(self, spark, raw):
        with pytest.raises(ValueError):
            apply_codec(raw, "nope")


class TestKafkaOptions:
    def test_subscribe_from_settings(self):
        src = KafkaSource(
            {
                "topic": {"web": 2, "app": 1},
                "consumer_settings": {
                    "bootstrap.servers": "b1:9092,b2:9092",
                    "group.id": "g",
                    "from.beginning": "true",
                    "max.poll.records": 500,
                },
            }
        )
        opts = src._options()
        assert opts["subscribe"] == "web,app"
        assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
        assert opts["startingOffsets"] == "earliest"
        assert opts["kafka.group.id"] == "g"
        assert opts["kafka.max.poll.records"] == "500"

    def test_assign_json(self):
        src = KafkaSource({"assign": {"web": [0, 1]}, "consumer_settings": {}})
        assert json.loads(src._options()["assign"]) == {"web": [0, 1]}

    def test_topic_assign_exclusive(self):
        with pytest.raises(ValueError, match="mutually exclusive"):
            KafkaSource({"topic": {"a": 1}, "assign": {"a": [0]}})._options()

    def test_missing_both(self):
        with pytest.raises(ValueError, match="need topic or assign"):
            KafkaSource({"consumer_settings": {}})._options()

    def test_connector_tier_makes_no_spool_dir(self, tmp_path, monkeypatch):
        """Only the dev-wire stream spools; a connector-tier source must not
        leave a temp directory behind, yet ``spool_dir`` stays usable."""
        import os
        import tempfile

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        src = KafkaSource({"topic": {"web": 1}, "consumer_settings": {}})
        src._options()
        assert list(tmp_path.glob("gohangout_kafka_*")) == []
        assert os.path.isdir(src.spool_dir)
        assert os.path.dirname(src.spool_dir) == str(tmp_path)


class TestRandom:
    def test_range_and_count(self, spark):
        df = RandomSource({"from": 10, "to": 20, "max_messages": 500}).batch(spark)
        vals = [int(r["message"]) for r in df.collect()]
        assert len(vals) == 500
        assert all(10 <= v <= 20 for v in vals)
        assert len(set(vals)) > 5  # actually random


class TestUDP:
    def test_datagrams_to_events(self, spark, tmp_path):
        """input/udp_input.go:32-116: datagrams decode per codec and
        add_remote_addr adds the sender IP."""
        import socket
        import time

        from gohangout_spark.sources.sources import UDPSource

        src = UDPSource(
            {
                "address": "127.0.0.1:0",
                "add_remote_addr": "peer",
                "spool_dir": str(tmp_path / "spool"),
                "spool_batch": 2,
            }
        )
        import os

        os.makedirs(src.spool_dir, exist_ok=True)
        src.start_listener()
        try:
            s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            for payload in (b"hello", b"world", b"tail"):
                s.sendto(payload, ("127.0.0.1", src.port))
            # two flushes: batch of 2, then idle-timeout flush of the tail
            deadline = time.time() + 5
            while time.time() < deadline and len(os.listdir(src.spool_dir)) < 2:
                time.sleep(0.1)
        finally:
            src.stop_listener()
        df = src.batch(spark)
        rows = df.collect()
        assert sorted(r["message"] for r in rows) == ["hello", "tail", "world"]
        assert all(r["peer"] == "127.0.0.1" for r in rows)
        assert "@timestamp" in df.columns

    def test_validation(self):
        from gohangout_spark.sources.sources import UDPSource

        with pytest.raises(ValueError, match="address"):
            UDPSource({})
        with pytest.raises(ValueError, match="max_length"):
            UDPSource({"address": "127.0.0.1:0", "max_length": 0})
