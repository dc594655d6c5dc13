"""Input sources — the reference's input plugins re-expressed as Spark
sources (batch + Structured Streaming through the unified DataFrame API).

| reference input (file:line)              | here |
|---|---|
| Kafka  (input/kafka_input.go:54-146)     | KafkaSource — format("kafka"), subscribe/assign, decorate_events from the source's topic/partition/offset metadata columns |
| Stdin  (input/stdin_input.go:33-66)      | StdinSource — batch read of stdin lines (dev tier) |
| TCP    (input/tcp_input.go:43-110)       | SocketSource — format("socket") (dev tier; production uses Kafka/files) |
| Random (input/random_input.go:27-63)     | RandomSource — spark.range / rate source + rand() |
| (files — no reference analogue)          | FileSource — parquet/json/csv/text, the batch backbone |

Codec application mirrors codec/plain_decoder.go:8-13 and
codec/json_decoder.go:12-29 (JSON parse with @timestamp injection and
fall-back-to-plain on malformed input).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def apply_codec(df: DataFrame, codec: str = "plain", schema: str | None = None,
                value_col: str = "value") -> DataFrame:
    """Decode a raw value column into the event shape.

    plain (codec/plain_decoder.go): {@timestamp: now(), message: raw}
    json  (codec/json_decoder.go): parse; inject @timestamp if absent; on
    parse failure fall back to plain semantics (raw kept in message).
    """
    raw = F.col(value_col).cast("string")
    if codec == "plain":
        out = df.select(
            F.current_timestamp().alias("@timestamp"),
            raw.alias("message"),
            *[c for c in df.columns if c != value_col],
        )
        return out
    if codec == "json":
        if schema:
            # PERMISSIVE from_json yields an all-null struct (not NULL) on
            # malformed input — route the raw line through _corrupt_record to
            # implement the decoder's fall-back-to-plain rule
            parsed = F.from_json(
                raw,
                schema + ", _corrupt_record string",
                {"columnNameOfCorruptRecord": "_corrupt_record"},
            )
            out = df.select(
                F.current_timestamp().alias("@timestamp"),
                parsed.alias("__parsed"),
                parsed.getItem("_corrupt_record").alias("message"),
                *[c for c in df.columns if c != value_col],
            )
            # flatten parsed struct fields to top level
            from pyspark.sql.types import StructType

            for fld in StructType.fromDDL(schema).fields:
                out = out.withColumn(fld.name, F.col("__parsed").getItem(fld.name))
            return out.drop("__parsed")
        # schema-less: event payload as a map<string,string> column named
        # `event` — a fixed schema cannot flatten unknown keys to the top
        # level like json_decoder.go does; provide `schema` for flat typed
        # columns, or address payload fields as [event][key]
        parsed = F.from_json(raw, "map<string,string>")
        return df.select(
            F.current_timestamp().alias("@timestamp"),
            parsed.alias("event"),
            F.when(parsed.isNull(), raw).alias("message"),
            *[c for c in df.columns if c != value_col],
        )
    raise ValueError(f"unknown codec {codec!r}")


class Source:
    def __init__(self, conf: dict):
        self.conf = conf or {}

    def batch(self, spark: SparkSession) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def stream(self, spark: SparkSession) -> DataFrame:  # pragma: no cover
        raise NotImplementedError("source has no streaming mode")

    def _decode(self, df: DataFrame) -> DataFrame:
        return apply_codec(
            df, self.conf.get("codec", "plain"), self.conf.get("schema"),
        )


class FileSource(Source):
    """path/format/options; typed formats (parquet) skip the codec —
    columns are already the event fields."""

    def _reader(self, spark, streaming: bool):
        fmt = self.conf.get("format", "parquet")
        r = spark.readStream if streaming else spark.read
        r = r.format(fmt)
        # for text sources the `schema` conf describes the CODEC's payload
        # (the reader schema is always `value string`)
        if self.conf.get("schema") and fmt != "text":
            r = r.schema(self.conf["schema"])
        for k, v in (self.conf.get("options") or {}).items():
            r = r.option(k, v)
        return r

    def batch(self, spark):
        fmt = self.conf.get("format", "parquet")
        if fmt == "parquet":
            from gohangout_spark.io import read_parquet

            return read_parquet(spark, self.conf["path"], self._reader(spark, False))
        df = self._reader(spark, False).load(self.conf["path"])
        if fmt == "text":
            return self._decode(df)
        return df

    def stream(self, spark):
        r = self._reader(spark, True)
        if not self.conf.get("schema"):
            # streaming file sources require a schema: infer once from the
            # existing files (footer read, driver-side, no data scan)
            static = self._reader(spark, False).load(self.conf["path"])
            r = r.schema(static.schema)
        df = r.load(self.conf["path"])
        if self.conf.get("format", "parquet") == "text":
            return self._decode(df)
        return df


class RandomSource(Source):
    """Random ints in [from, to] as stringified message
    (input/random_input.go:27-63)."""

    def batch(self, spark):
        lo, hi = int(self.conf.get("from", 0)), int(self.conf.get("to", 100))
        n = int(self.conf.get("max_messages", 1000))
        df = spark.range(n).select(
            (F.floor(F.rand() * (hi - lo + 1)) + lo).cast("long").cast("string").alias("value")
        )
        return self._decode(df)

    def stream(self, spark):
        lo, hi = int(self.conf.get("from", 0)), int(self.conf.get("to", 100))
        rate = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(self.conf.get("rows_per_second", 100)))
            .load()
        )
        df = rate.select(
            (F.floor(F.rand() * (hi - lo + 1)) + lo).cast("long").cast("string").alias("value")
        )
        return self._decode(df)


class StdinSource(Source):
    def batch(self, spark):
        lines = [(line.rstrip("\n"),) for line in sys.stdin]
        df = spark.createDataFrame(lines, "value string")
        return self._decode(df)


class SocketSource(Source):
    def stream(self, spark):
        df = (
            spark.readStream.format("socket")
            .option("host", self.conf.get("host", "localhost"))
            .option("port", str(self.conf.get("port", 9999)))
            .load()
        )
        return self._decode(df)


class _Spool:
    """The dev-tier spool shared by the UDP and Kafka dev-wire sources:
    a driver thread calls ``one_pass()`` until ``stop()``; each pass hands
    its records to ``write``, which makes one JSON-lines file per call in
    the spool directory, atomically (write ``.tmp``, then rename), so the
    text file-stream tailing the directory never reads a partial file.
    ``read`` turns the spooled lines back into columns. The directory is
    made on first use, so a source that never spools leaves none behind."""

    def __init__(self, path: str | None, prefix: str):
        self._path = path
        self._prefix = prefix
        self.stopping = None
        self._thread = None

    @property
    def dir(self) -> str:
        import os
        import tempfile

        if self._path is None:
            self._path = tempfile.mkdtemp(prefix=self._prefix)
        os.makedirs(self._path, exist_ok=True)
        return self._path

    @property
    def running(self) -> bool:
        return self._thread is not None

    def write(self, records: list[dict]) -> None:
        import json
        import os
        import uuid

        if not records:
            return
        path = os.path.join(self.dir, uuid.uuid4().hex + ".jsonl")
        with open(path + ".tmp", "w") as f:
            f.write("\n".join(json.dumps(r) for r in records) + "\n")
        os.rename(path + ".tmp", path)

    def start(self, one_pass, close, wait_s: float = 0.0) -> None:
        """Run ``one_pass()`` on a daemon thread, ``wait_s`` apart, until
        ``stop()`` or until a pass sets ``stopping``; ``close()`` runs as
        the thread ends."""
        import threading

        stopping = self.stopping = threading.Event()

        def loop():
            try:
                while not stopping.is_set():
                    one_pass()
                    stopping.wait(wait_s)
            finally:
                close()

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._thread is None:
            return
        self.stopping.set()
        self._thread.join(10.0)
        self._thread = None

    def read(self, spark: SparkSession, schema: str, streaming: bool) -> DataFrame:
        """The spooled records as the columns of ``schema``: a text
        file-stream tailing the spool, or a batch read of it. One field
        per ``from_json`` lets the optimizer drop the fields nobody reads."""
        from pyspark.sql.types import StructType

        r = spark.readStream if streaming else spark.read
        rec = F.from_json(F.col("value"), schema)
        return r.format("text").load(self.dir).select(
            *[rec.getItem(n).alias(n) for n in StructType.fromDDL(schema).fieldNames()]
        )


class UDPSource(Source):
    """UDP datagram input (input/udp_input.go:32-116) — dev tier, like the
    socket source. Spark has no native UDP source (SURVEY §2.1), so a
    driver-side listener thread receives datagrams (``max_length`` cap,
    :80-84) and spools them (``_Spool``) into a directory that a text
    file-stream tails (batch mode reads the same spool);
    ``add_remote_addr`` (:45-47,108-110) adds the sender IP as a field.
    Datagrams flush to the spool per ``spool_batch`` messages or on a
    200 ms idle gap."""

    def __init__(self, conf):
        super().__init__(conf)
        if not self.conf.get("address"):
            raise ValueError("address must be set in UDP input")
        ml = self.conf.get("max_length", 65535)
        if not isinstance(ml, int) or ml <= 0:
            raise ValueError("max_length must be bigger than zero")
        self.max_length = ml
        self._spool = _Spool(self.conf.get("spool_dir"), "gohangout_udp_")
        self._sock = None

    @property
    def spool_dir(self) -> str:
        return self._spool.dir

    @property
    def port(self) -> int:
        """Actual bound port (useful with address '...:0' in tests)."""
        return self._sock.getsockname()[1]

    def start_listener(self) -> "UDPSource":
        import socket

        host, _, port = self.conf["address"].rpartition(":")
        sock = self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        sock.bind((host or "0.0.0.0", int(port)))
        sock.settimeout(0.2)
        flush_every = int(self.conf.get("spool_batch", 100))

        def one_pass():
            buf = []
            while len(buf) < flush_every:
                try:
                    data, addr = sock.recvfrom(self.max_length)
                except socket.timeout:
                    break
                except OSError:
                    self._spool.stopping.set()
                    break
                buf.append({"value": data.decode("utf-8", "replace"), "addr": addr[0]})
            self._spool.write(buf)

        self._spool.start(one_pass, sock.close)
        return self

    def stop_listener(self) -> None:
        self._spool.stop()

    def _frame(self, spark, streaming: bool) -> DataFrame:
        # a pipeline-built source must receive without an explicit
        # start_listener() call — bind lazily, once, here
        if self._sock is None:
            self.start_listener()
        df = self._spool.read(spark, "value string, addr string", streaming)
        out = self._decode(df.withColumnRenamed("addr", "__udp_addr"))
        target = self.conf.get("add_remote_addr")
        if target:
            out = out.withColumn(target, F.col("__udp_addr"))
        return out.drop("__udp_addr")

    def batch(self, spark):
        return self._frame(spark, streaming=False)

    def stream(self, spark):
        return self._frame(spark, streaming=True)


class KafkaSource(Source):
    """subscribe (topic map) XOR assign (partition map), mirroring
    input/kafka_input.go:54-123; decorate_events adds the
    [@metadata][kafka]{topic,partition,offset} struct from the Kafka source's
    metadata columns (:127-146).

    Tiers: production is Spark's `format("kafka")` (connector jar + real
    broker). With ``dev_wire: true`` the batch path instead drains the
    topic through the in-repo wire-protocol client (sources/kafka_wire.py;
    ``wire_format`` "v0" MessageSets by default, or "v2" RecordBatches)
    and builds a DataFrame with the SAME key/value/topic/partition/
    offset/timestamp columns the connector emits, so `_finish` (codec +
    decorate_events) is byte-identical across tiers. The dev BATCH path
    is driver-side and bounded (it drains to the high watermark once);
    the dev STREAMING path (``stream()`` with dev_wire) runs a
    continuous driver-side poll loop spooling to a tailed file stream —
    see start_consumer() — the same doctrine as the Stdin/TCP/UDP dev
    tiers."""

    def __init__(self, conf):
        super().__init__(conf)
        self._spool = _Spool(self.conf.get("spool_dir"), "gohangout_kafka_")

    @property
    def spool_dir(self) -> str:
        return self._spool.dir

    def _options(self) -> dict[str, str]:
        from gohangout_spark.sources.kafka_wire import pop_sasl

        conf = self.conf
        settings = dict(conf.get("consumer_settings") or {})
        opts = {}
        if "bootstrap.servers" in settings:
            opts["kafka.bootstrap.servers"] = settings.pop("bootstrap.servers")
        if settings.pop("from.beginning", "false") in ("true", True):
            opts["startingOffsets"] = "earliest"
        if "group.id" in settings:
            opts["kafka.group.id"] = settings.pop("group.id")
        # SASL: the connector tier gets the public jaas-config mapping,
        # the dev wire tier reads the creds in _dev_wire()
        mech, sasl_user, sasl_pw = pop_sasl(settings)
        if sasl_user is not None and mech not in (None, "PLAIN"):
            raise ValueError(f"sasl.mechanism: only PLAIN is supported, got {mech!r}")
        if mech:
            opts["kafka.sasl.mechanism"] = str(mech)
        if sasl_user is not None:
            opts["kafka.sasl.jaas.config"] = (
                "org.apache.kafka.common.security.plain.PlainLoginModule "
                f'required username="{sasl_user}" password="{sasl_pw}";'
            )
        for k, v in settings.items():
            opts[f"kafka.{k}"] = str(v)
        topic, assign = conf.get("topic"), conf.get("assign")
        if topic and assign:
            raise ValueError("Kafka: topic and assign are mutually exclusive")
        if topic:
            opts["subscribe"] = ",".join(topic) if isinstance(topic, dict) else str(topic)
        elif assign:
            import json as _json

            opts["assign"] = _json.dumps(assign)
        else:
            raise ValueError("Kafka: need topic or assign")
        return opts

    def _finish(self, df: DataFrame) -> DataFrame:
        out = self._decode(df)
        if self.conf.get("decorate_events"):
            out = out.withColumn(
                "@metadata",
                F.struct(
                    F.struct(
                        F.col("topic"), F.col("partition"), F.col("offset")
                    ).alias("kafka")
                ),
            )
        return out.drop("key", "topic", "partition", "offset", "timestamp", "timestampType")

    def _dev_wire(self):
        """The dev wire tier's one reading of the conf, shared by batch and
        stream -> (opts, group, connect). ``group`` is the group.id to
        join, set only together with subscribe; with assign (or without
        group.id) the partitions are read statically, the reference's
        assign mode. ``connect(cls, *args)`` opens a ClusterWireClient or
        GroupConsumer on the configured brokers, message format and SASL
        credentials."""
        from gohangout_spark.sources.kafka_wire import pop_sasl

        opts = self._options()
        _, sasl_user, sasl_pw = pop_sasl(dict(self.conf.get("consumer_settings") or {}))
        fmt = self.conf.get("wire_format", "v0")

        def connect(cls, *args):
            return cls(opts["kafka.bootstrap.servers"], *args, message_format=fmt,
                       sasl_user=sasl_user, sasl_password=sasl_pw)

        group = opts.get("kafka.group.id") if "subscribe" in opts else None
        return opts, group, connect

    @staticmethod
    def _static_positions(opts: dict[str, str], client) -> dict[tuple[str, int], int]:
        """(topic, partition) -> 0 (earliest) for every partition to read:
        all of a subscribed topic's (via Metadata), or the assign map's."""
        if "subscribe" in opts:
            topics = opts["subscribe"].split(",")
            meta = client.metadata(topics)
            return {(t, p): 0 for t in topics for p in meta.get(t, [])}
        import json as _json

        assign = _json.loads(opts["assign"])
        return {(t, p): 0 for t, parts in assign.items() for p in parts}

    @staticmethod
    def _connector_rows(records):
        """(topic, partition, offset, timestamp_ms, key, value) records ->
        rows in the connector's column order; timestampType 1 is
        CreateTime, what both message formats carry."""
        return [(k, v, t, p, o, ts, 1) for t, p, o, ts, k, v in records]

    def _batch_dev_wire(self, spark):
        """Without a group: one pass over the partitions from earliest to
        the high watermark (the connector's default startingOffsets for
        batch reads, regardless of from.beginning, which only moves the
        STREAMING start point), every batch() alike. The leader-routing
        client takes a bootstrap list and survives a node death via
        metadata refresh + retry.

        With a group: join it, drain the OWNED partitions from the
        group's COMMITTED offsets to the high watermark, commit, leave —
        the at-least-once resume contract the reference gets from
        healer's GroupConsumer (input/kafka_input.go:87-95,150-156), so a
        second batch() sees only records appended since the previous
        drain."""
        from gohangout_spark.sources.kafka_wire import ClusterWireClient, GroupConsumer

        opts, group, connect = self._dev_wire()
        if group is None:
            with connect(ClusterWireClient) as client:
                records = client.drain(self._static_positions(opts, client))
            return self._dev_wire_frame(spark, self._connector_rows(records))
        # the reference's thread model: the topic map's VALUE is the
        # number of GroupConsumers spawned for that topic, all sharing
        # group.id (input/kafka_input.go:89-91 — one NewGroupConsumer
        # per (topic, i < threadCount)). One spec per consumer:
        topic_conf = self.conf.get("topic")
        if isinstance(topic_conf, dict):
            specs = [t for t, n in topic_conf.items() for _ in range(max(1, int(n)))]
        else:
            specs = opts["subscribe"].split(",")
        rows = self._drain_group_threads([connect(GroupConsumer, group, [t]) for t in specs])
        return self._dev_wire_frame(spark, rows)

    def _dev_wire_frame(self, spark, rows):
        """Connector-shaped frame over fetched (key, value, topic,
        partition, offset, timestamp_ms, timestampType) rows."""
        df = spark.createDataFrame(
            rows,
            "key binary, value binary, topic string, partition int, "
            "offset long, timestamp_ms long, timestampType int",
        ).withColumn("timestamp", F.timestamp_millis(F.col("timestamp_ms"))).drop(
            "timestamp_ms"
        )
        return self._finish(df)

    @staticmethod
    def _drain_group_threads(consumers):
        """N GroupConsumers sharing one group.id, the reference's
        consumer_threads model. Joins race — the first registrant can
        complete a one-member generation before the rest arrive — so
        after the initial concurrent join, any generation disagreement
        sends EVERY consumer back through a concurrent rejoin (the
        coordinator blocks each JoinGroup until all current members
        re-register, so one round converges to a single generation
        with the RangeAssignor's disjoint split). Only then does anyone
        fetch, so the sync-up can never double-consume."""
        from concurrent.futures import ThreadPoolExecutor

        n = len(consumers)
        rows = []
        try:
            with ThreadPoolExecutor(n) as ex:
                list(ex.map(lambda c: c.join(), consumers))
                for _ in range(5):
                    if len({c.generation for c in consumers}) == 1:
                        break
                    list(ex.map(lambda c: c.join(), consumers))
                else:
                    raise TimeoutError(
                        "group consumers never converged on one generation"
                    )

                def drain(c):
                    out = c.poll()
                    c.commit()
                    return out

                for recs in ex.map(drain, consumers):
                    rows.extend(KafkaSource._connector_rows(recs))
        finally:
            for c in consumers:
                # LeaveGroup like the reference's Close() — nobody polls
                # after this, so the departures cost nothing, and the
                # NEXT batch's joins start from an Empty group instead
                # of waiting out dead members' session expiry
                c.close(leave=True)
        return rows

    def batch(self, spark):
        if self.conf.get("dev_wire"):
            return self._batch_dev_wire(spark)
        r = spark.read.format("kafka")
        for k, v in self._options().items():
            r = r.option(k, v)
        return self._finish(r.load())

    # -- streaming dev tier ------------------------------------------------

    def start_consumer(self) -> "KafkaSource":
        """Dev-tier CONTINUOUS consumption — the reference's actual
        operating mode (kafka_input feeds a channel from its
        GroupConsumers for the life of the process). A driver-side
        thread polls the group (heartbeat + fetch + commit per pass —
        at-least-once, spool-then-commit ordering) and spools records
        as JSON lines that a text file-stream tails, the same pattern
        as UDPSource; `_finish` then applies the IDENTICAL
        codec/decorate_events path as the connector tier. Without a
        group (no group.id, or assign), each pass drains the partitions
        from positions that start at earliest and live only in-process
        (the connector's own default for an unmanaged stream) — the
        same pass the batch tier runs once.

        The spool hop is JSON text: keys/values are utf-8 decoded with
        replacement, which is lossless for every codec payload this
        engine produces (plain/json are utf-8 by construction) but NOT
        for arbitrary binary values — those belong on the batch tier
        or the real connector, which keep bytes end to end."""
        if self._spool.running:
            return self
        from gohangout_spark.sources.kafka_wire import ClusterWireClient, GroupConsumer

        poll_s = float(self.conf.get("poll_interval_s", 0.2))

        def spool(records) -> None:
            self._spool.write([
                {
                    "key": None if k is None else k.decode("utf-8", "replace"),
                    "value": None if v is None else v.decode("utf-8", "replace"),
                    "topic": t,
                    "partition": p,
                    "offset": o,
                    "timestamp_ms": ts,
                }
                for t, p, o, ts, k, v in records
            ])

        opts, group, connect = self._dev_wire()
        if group is None:
            client = connect(ClusterWireClient)
            positions = self._static_positions(opts, client)

            def one_pass():
                spool(client.drain(positions))

            close = client.close
        else:
            consumer = connect(GroupConsumer, group, opts["subscribe"].split(","))
            consumer.join()

            def one_pass():
                recs = consumer.poll()
                spool(recs)
                if recs:
                    # spool first, commit second: a crash between
                    # re-reads, never loses — at-least-once
                    consumer.commit()

            close = consumer.close
        self._spool.start(one_pass, close, poll_s)
        return self

    def stop_consumer(self) -> None:
        self._spool.stop()

    def _stream_dev_wire(self, spark):
        self.start_consumer()
        rec = self._spool.read(
            spark,
            "key string, value string, topic string, partition int, "
            "offset long, timestamp_ms long",
            streaming=True,
        )
        df = rec.select(
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
            "topic",
            "partition",
            "offset",
            F.timestamp_millis(F.col("timestamp_ms")).alias("timestamp"),
            F.lit(1).alias("timestampType"),
        )
        return self._finish(df)

    def stream(self, spark):
        if self.conf.get("dev_wire"):
            return self._stream_dev_wire(spark)
        r = spark.readStream.format("kafka")
        for k, v in self._options().items():
            r = r.option(k, v)
        return self._finish(r.load())


SOURCE_REGISTRY = {
    "File": FileSource,
    "Random": RandomSource,
    "Stdin": StdinSource,
    "TCP": SocketSource,
    "Socket": SocketSource,
    "UDP": UDPSource,
    "Kafka": KafkaSource,
}
