"""Output sinks — the reference's output plugins as batch writers +
Structured Streaming foreachBatch writers.

| reference output (file:line) | here |
|---|---|
| Stdout (output/stdout_output.go:40-46)          | StdoutSink |
| Dot (output/dot_output.go:23-25)                | DotSink |
| Kafka (output/kafka_output.go:69-81)            | KafkaSink — to_json(struct(*)), rendered key |
| Elasticsearch (output/elasticsearch_output.go)  | ElasticsearchSink — bulk NDJSON lines built in-plan (rendered index/id/routing/action), pluggable HTTP transport, per-batch retry |
| ClickHouse (output/clickhouse_output.go)        | ClickHouseSink — DESC-driven cast+default projection; JDBC write if a driver is on the classpath, else the projection is exposed for foreachBatch |
| InfluxDB (output/influxdb_output.go:25-64)      | InfluxdbSink — line-protocol projection (pure Column exprs) + transport |
| TCP (output/tcp_output.go:33-146)               | via FileSink/foreachPartition socket writer (dev tier) |

Per-output `if` conditions (topology/output.go:41-49) are applied by the
Pipeline as a row filter per sink; multi-sink fan-out writes the SAME
DataFrame through several sinks (one foreachBatch with N writers in
streaming, mirroring the single-pass semantics of topology/output.go:54-64).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gohangout_spark.expr.render import compile_render


class Sink:
    def __init__(self, conf: dict | None = None):
        self.conf = conf or {}
        self.ifs = self.conf.get("if") or []

    def write_batch(self, df: DataFrame) -> None:  # pragma: no cover
        raise NotImplementedError

    def write_micro_batch(self, df: DataFrame, epoch_id: int) -> None:
        self.write_batch(df)


class StdoutSink(Sink):
    """JSON-line print (stdout_output.go:40-46)."""

    def write_batch(self, df: DataFrame) -> None:
        for line in df.toJSON().collect():
            print(line)


class DotSink(Sink):
    def write_batch(self, df: DataFrame) -> None:
        print("." * df.count(), end="", flush=True)


class MemorySink(Sink):
    """Collects rows for tests/dev (the reference uses mocked Stdout)."""

    def __init__(self, conf=None):
        super().__init__(conf)
        self.rows: list = []

    def write_batch(self, df: DataFrame) -> None:
        self.rows.extend(df.collect())


class FileSink(Sink):
    """Partitioned file output (parquet/orc/json/csv/text).

    The reference's outputs are all service connectors (ES/Kafka/CH/...);
    a training-data engine's default output is partitioned parquet on a
    shared filesystem, so this sink is first-class here:

    - ``partition_by``: hive-style directory partitioning (partition
      pruning for downstream readers)
    - ``max_records_per_file`` / ``compression``: file sizing knobs — at
      100 TB the failure mode is thousands of tiny files or single
      multi-GB ones; bound both
    - batch: ``df.write``; streaming: the pipeline routes an eligible
      single-FileSink chain through Spark's NATIVE file sink
      (exactly-once via the ``_spark_metadata`` commit log) instead of
      foreachBatch (at-least-once on batch retry).
    """

    def _apply_common(self, w):
        if self.conf.get("compression"):
            w = w.option("compression", self.conf["compression"])
        # per-column parquet bloom filters: point-lookup file skipping for
        # high-cardinality columns where min-max stats can't prune (ids,
        # hashes, URLs). `bloom_filter_columns` is a list, or a {col: ndv}
        # map to size each filter (expected distinct values per row group).
        bloom = self.conf.get("bloom_filter_columns")
        if bloom:
            items = bloom.items() if isinstance(bloom, dict) else ((c, None) for c in bloom)
            for col, ndv in items:
                w = w.option(f"parquet.bloom.filter.enabled#{col}", "true")
                if ndv:
                    w = w.option(f"parquet.bloom.filter.expected.ndv#{col}", str(int(ndv)))
        if self.conf.get("max_records_per_file"):
            w = w.option("maxRecordsPerFile", int(self.conf["max_records_per_file"]))
        for k, v in (self.conf.get("options") or {}).items():
            w = w.option(k, v)
        part = self.conf.get("partition_by")
        if part:
            w = w.partitionBy(*([part] if isinstance(part, str) else list(part)))
        return w

    def write_batch(self, df: DataFrame) -> None:
        # zorder_by: re-lay rows in Morton order over the named columns
        # before writing, so min-max pruning serves predicates on ANY of
        # them (functions/layout.py). Batch-only by nature (needs global
        # bounds + a range exchange); streaming writes ignore it.
        zcols = self.conf.get("zorder_by")
        if zcols:
            from gohangout_spark.functions.layout import zorder_layout

            df = zorder_layout(
                df,
                [zcols] if isinstance(zcols, str) else list(zcols),
                n_partitions=self.conf.get("zorder_partitions"),
            )
        w = df.write.format(self.conf.get("format", "parquet")).mode(
            self.conf.get("mode", "append")
        )
        self._apply_common(w).save(self.conf["path"])

    def stream_writer(self, df: DataFrame):
        """Native streaming file-sink writer (append-only; the caller owns
        checkpointLocation). Exactly-once: re-run micro-batches are
        deduplicated by the file sink's _spark_metadata commit log."""
        w = df.writeStream.format(self.conf.get("format", "parquet"))
        return self._apply_common(w).option("path", self.conf["path"]).outputMode(
            "append"
        )


class KafkaSink(Sink):
    """Encode event as JSON (or format template), optional rendered key
    (kafka_output.go:69-81).

    Tiers: production writes through Spark's `format("kafka")`. With
    ``dev_wire: true`` the encoded payload is produced through the
    in-repo wire-protocol client (sources/kafka_wire.py; ``wire_format``
    "v0" MessageSets by default, or "v2" RecordBatches) instead —
    keyed rows partitioned by Kafka's public murmur2 default-partitioner
    hash, keyless rows round-robin, matching the classic producer.
    Driver-side and bounded by contract: dev tier only (same doctrine as
    the Stdout/TCP dev sinks)."""

    def _write_dev_wire(self, payload: DataFrame) -> None:
        import time as _time

        from gohangout_spark.sources.kafka_wire import (
            ClusterWireClient,
            partition_for_key,
            pop_sasl,
        )

        topic = self.conf["topic"]
        now_ms = int(_time.time() * 1000)
        rows = payload.collect()  # dev tier: bounded by contract
        # leader-routing client: `brokers` may be a comma list, and a
        # node death mid-write costs a metadata refresh, not the batch
        producer = dict(self.conf.get("producer_settings") or {})
        _, sasl_user, sasl_pw = pop_sasl(producer)
        with ClusterWireClient(
            self.conf["brokers"],
            message_format=self.conf.get("wire_format", "v0"),
            compression=self.conf.get(
                "compression.type", producer.get("compression.type")
            ),
            sasl_user=sasl_user,
            sasl_password=sasl_pw,
        ) as client:
            parts = client.metadata([topic]).get(topic) or [0]
            by_part: dict[int, list] = {}
            rr = 0
            for row in rows:
                key = row["key"].encode() if "key" in row.__fields__ and row["key"] is not None else None
                if key is None:
                    part = parts[rr % len(parts)]
                    rr += 1
                else:
                    part = parts[partition_for_key(key, len(parts))]
                by_part.setdefault(part, []).append(
                    (key, row["value"].encode(), now_ms)
                )
            for part, msgs in sorted(by_part.items()):
                client.produce(topic, part, msgs)

    def payload(self, df: DataFrame) -> DataFrame:
        fmt = self.conf.get("format")
        value = (
            compile_render(fmt, df).cast("string")
            if fmt
            else F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns]))
        )
        cols = [value.alias("value")]
        if self.conf.get("key"):
            cols.append(compile_render(self.conf["key"], df).cast("string").alias("key"))
        return df.select(*cols)

    def write_batch(self, df: DataFrame) -> None:
        if self.conf.get("dev_wire"):
            self._write_dev_wire(self.payload(df))
            return
        (
            self.payload(df)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", self.conf["brokers"])
            .option("topic", self.conf["topic"])
            .save()
        )


class RRHostSelector:
    """Weighted round-robin host selection with decay/recovery — the shared
    bulk-engine selector (output/host_selector.go:23-75):

    - hosts start at ``init_weight`` (the reference uses 3, bulk_http.go:123);
    - round-robin skips hosts whose weight dropped to 0;
    - a failed bulk decrements the current host's weight (ReduceWeight); a
      host that hits 0 recovers to weight 1 after ``recover_after_s``
      (the reference arms a 30-minute timer, host_selector.go:59-66 — here
      recovery is applied lazily on the next selection, same visible effect
      without a timer thread);
    - a successful bulk increments the weight, capped at init (AddWeight);
    - when every host is exhausted, weights reset and ``next()`` returns
      None once — the caller waits and retries (bulk_http.go:157-161).
    """

    def __init__(self, hosts, init_weight: int = 3, recover_after_s: float = 1800.0,
                 clock=None, start_index: int | None = None):
        import random
        import time as _time

        self.hosts = list(hosts)
        self.init_weight = init_weight
        self.weight = [init_weight] * len(self.hosts)
        self.index = (
            start_index if start_index is not None
            else random.randrange(len(self.hosts))
        )
        self.recover_after_s = recover_after_s
        self.clock = clock or _time.monotonic
        self._recover_at: list[float | None] = [None] * len(self.hosts)

    def next(self) -> str | None:
        now = self.clock()
        for i, t in enumerate(self._recover_at):
            if t is not None and now >= t:
                self.weight[i] = max(self.weight[i], 1)
                self._recover_at[i] = None
        n = len(self.hosts)
        for i in range(1, n + 1):
            idx = (self.index + i) % n
            if self.weight[idx] > 0:
                self.index = idx
                return self.hosts[idx]
        self.weight = [self.init_weight] * n
        return None

    def reduce_weight(self) -> None:
        self.weight[self.index] -= 1
        if self.weight[self.index] <= 0:
            self._recover_at[self.index] = self.clock() + self.recover_after_s

    def add_weight(self) -> None:
        self.weight[self.index] = min(self.weight[self.index] + 1, self.init_weight)


class _BulkSink(Sink):
    """The ES, ClickHouse-HTTP and InfluxDB sinks share one bulk engine, as
    the reference's outputs share one HTTPBulkProcessor. Its settings are
    read here, once; a subclass supplies ``lines(df)`` (one string column
    ``line``), ``hosts``, ``endpoint``, the static ``success(status, body)``
    verdict and, optionally, the static per-item ``retry_lines(body, buf)``
    verdicts."""

    # gzip on by default like the reference (elasticsearch_output.go:305-309)
    COMPRESS = True
    retry_lines = None

    def __init__(self, conf=None, transport=None):
        super().__init__(conf)
        self.transport = transport or _urllib_transport
        conf = self.conf
        self.bulk_actions = int(conf.get("bulk_actions", 5000))
        self.bulk_size = int(conf.get("bulk_size", 15 * 1024 * 1024))
        self.flush_interval = float(conf.get("flush_interval", 30))
        self.retries = int(conf.get("retry", 3))
        # the reference waits 30 s when every host's weight is exhausted
        # (bulk_http.go:158-160); tests shrink this
        self.no_host_wait = float(conf.get("no_host_wait", 30))
        self.compress = bool(conf.get("compress", self.COMPRESS))

    def write_micro_batch(self, df: DataFrame, epoch_id: int) -> None:
        self.write_batch(df, micro_batch=True)

    def write_batch(self, df: DataFrame, micro_batch: bool = False) -> None:
        self.bulk_send_lines(self.lines(df), micro_batch)

    def bulk_send_lines(self, lines: DataFrame, micro_batch: bool) -> None:
        """The shared HTTP bulk engine (output/bulk_http.go:73-312) as a
        partition-wise sender: flush on action count / buffered bytes /
        elapsed interval; weighted-RR host selection with decay/recovery
        (RRHostSelector); bounded retries.

        A streaming ``micro_batch`` that fits one bulk request
        (``_driver_lines``) goes through the same sender on the driver, as
        one request, instead of one Python worker task per partition;
        anything larger, and every batch job, drains partition-wise.

        The interval trigger runs on a ticker thread (the reference's ticker
        goroutine, bulk_http.go:92-101) so a stalled upstream iterator
        cannot hold buffered docs past ``flush_interval``. HOST health is
        kept apart from DOCUMENT outcomes: only a transport/HTTP failure (no
        2xx) decays the host weight (HostSelector.ReduceWeight is called on
        request failure only); a 2xx that ``success`` rejects, e.g. ES
        ``"errors":true``, is retried WITHOUT punishing the healthy host,
        re-bulking only the lines ``retry_lines(body, buf)`` returns when
        the sink has it."""
        # the partition sender captures plain values, never the sink
        hosts, transport, endpoint = self.hosts, self.transport, self.endpoint
        success, retry_lines = self.success, self.retry_lines
        bulk_actions, bulk_size, flush_interval = (
            self.bulk_actions, self.bulk_size, self.flush_interval
        )
        retries, no_host_wait, compress = self.retries, self.no_host_wait, self.compress

        def send_partition(it):
            import threading
            import time as _time

            selector = RRHostSelector(hosts)
            buf: list[str] = []
            state = {"bytes": 0, "first_ts": None}
            lock = threading.Lock()

            def flush_locked():
                if not buf:
                    return

                def encode():
                    p = ("\n".join(buf) + "\n").encode()
                    if compress:
                        import gzip

                        p = gzip.compress(p)
                    return p

                payload = encode()
                last = None
                for _attempt in range(retries + 1):
                    host = selector.next()
                    if host is None:
                        # all hosts exhausted: weights were reset, wait then
                        # pick again (bulk_http.go:157-161)
                        _time.sleep(no_host_wait)
                        host = selector.next()
                        if host is None:
                            continue
                    status, body = transport(host.rstrip("/") + endpoint, payload)
                    if success(status, body):
                        selector.add_weight()
                        buf.clear()
                        state["bytes"] = 0
                        state["first_ts"] = None
                        return
                    if 200 <= status < 300:
                        # doc-level failure on a healthy host: no weight decay
                        selector.add_weight()
                        if retry_lines is not None:
                            subset = retry_lines(body, list(buf))
                            if subset is not None:
                                # per-item verdicts: re-bulk only the retryable
                                # docs (429/5xx); the rest were logged+dropped
                                buf[:] = subset
                                if not buf:
                                    state["bytes"] = 0
                                    state["first_ts"] = None
                                    return
                                payload = encode()
                    else:
                        selector.reduce_weight()
                    last = (status, body[:500])
                raise RuntimeError(f"bulk failed after {retries + 1} tries: {last}")

            stop = threading.Event()

            def ticker():
                while not stop.wait(min(flush_interval, 1.0)):
                    with lock:
                        if (
                            state["first_ts"] is not None
                            and _time.monotonic() - state["first_ts"] >= flush_interval
                        ):
                            flush_locked()

            t = threading.Thread(target=ticker, daemon=True)
            t.start()
            try:
                for row in it:
                    if row["line"] is None:
                        continue
                    with lock:
                        buf.append(row["line"])
                        state["bytes"] += len(row["line"]) + 1
                        if state["first_ts"] is None:
                            state["first_ts"] = _time.monotonic()
                        if len(buf) >= bulk_actions or state["bytes"] >= bulk_size:
                            flush_locked()
                with lock:
                    flush_locked()
            finally:
                stop.set()
                t.join(2.0)

        small = _driver_lines(lines, bulk_actions) if micro_batch else None
        if small is None:
            lines.foreachPartition(send_partition)
        elif small:
            send_partition(small)


class ElasticsearchSink(_BulkSink):
    """Bulk-index via the _bulk API. The action+source NDJSON lines are built
    IN-PLAN (rendered index / id / routing / action — index patterns like
    'web-%{appid}-%{+2006-01-02}' compile to concat/date_format exprs exactly
    like elasticsearch_output.go:49-92); executors POST partition-wise through
    a pluggable transport, so there is no driver bottleneck and no Python
    per-row loop for the encoding itself. A streaming micro-batch that fits
    one bulk request is sent from the driver instead (``bulk_send_lines``).

    Bulk engine parity (output/bulk_http.go:16-20,126-143): flush triggers on
    buffered BYTES (``bulk_size``, default 15 MB), action COUNT
    (``bulk_actions``, default 5000), or ELAPSED time since the first
    buffered doc (``flush_interval``, default 30 s — meaningful when a
    partition iterator stalls, e.g. a slow upstream stage); host selection is
    weighted round-robin with decay/recovery (RRHostSelector).

    transport: callable(host: str, payload: bytes) -> (status:int, body:str).
    Default transport uses urllib (no external deps); tests inject a fake.
    Retry-on-429/5xx per bulk request mirrors :133-203.
    """

    endpoint = "/_bulk"

    def __init__(self, conf=None, transport=None):
        super().__init__(conf, transport)
        self.seed_hosts = list(self.conf.get("hosts") or ["http://localhost:9200"])
        self.hosts = list(self.seed_hosts)
        # node sniffing (elasticsearch_output.go:356-387,410-498): discover
        # live data nodes from /_nodes/_all/http, optionally filtered by a
        # condition-DSL `match` over each node's info map; refreshed lazily
        # every refresh_interval seconds at write/micro-batch boundaries
        # (the Spark stand-in for the reference's ticker goroutine)
        self.sniff = self.conf.get("sniff")  # {} enables with defaults
        self._next_sniff: float | None = None
        if self.sniff is not None:
            self.hosts = self._sniff_nodes()
            if not self.hosts:
                raise RuntimeError("no available hosts after sniff")
            interval = float(self.sniff.get("refresh_interval", 0))
            if interval > 0:
                import time as _time

                self._next_sniff = _time.monotonic() + interval

    _HOST_RE = re.compile(r"(?i)^(https?)://(?:([^:]+):([^@]+)@)?(\S+?)/?$")

    def _sniff_nodes(self) -> list[str]:
        """GET /_nodes/_all/http from the first reachable SEED host; keep
        nodes passing the `match` condition; address = $.http.publish_address
        (elasticsearch_output.go:435-498). Scheme and credentials of the
        seed host carry over to the discovered hosts (assembleHosts)."""
        import json as _json

        from gohangout_spark.expr.conditions import evaluate_condition

        match = self.sniff.get("match")
        last = None
        for seed in self.seed_hosts:
            status, body = self.transport(
                seed.rstrip("/") + "/_nodes/_all/http", None
            )
            if status >= 300:
                last = (seed, status, str(body)[:200])
                continue
            try:
                nodes = _json.loads(body)["nodes"]
            except (ValueError, KeyError) as e:
                last = (seed, status, f"bad sniff body: {e}")
                continue
            m = self._HOST_RE.match(seed)
            scheme = m.group(1) if m else "http"
            auth = f"{m.group(2)}:{m.group(3)}@" if m and m.group(2) else ""
            hosts = []
            for node in nodes.values():
                if match and not evaluate_condition(match, node):
                    continue
                addr = (node.get("http") or {}).get("publish_address")
                if addr:
                    # "hostname/ip:port" publish form → take the ip:port part
                    hosts.append(f"{scheme}://{auth}{addr.rsplit('/', 1)[-1]}")
            return hosts
        raise RuntimeError(f"sniff nodes error from all hosts: {last}")

    def maybe_resniff(self) -> bool:
        """Refresh the host list when the sniff interval elapsed."""
        if self._next_sniff is None:
            return False
        import time as _time

        now = _time.monotonic()
        if now < self._next_sniff:
            return False
        self._next_sniff = now + float(self.sniff.get("refresh_interval", 0))
        try:
            hosts = self._sniff_nodes()
        except RuntimeError:
            return False  # keep serving the previous list (reference logs on)
        if hosts and hosts != self.hosts:
            self.hosts = hosts
            return True
        return False

    def bulk_lines(self, df: DataFrame) -> DataFrame:
        """One string column 'line' = action-meta JSON + '\\n' + source JSON.

        Action metadata goes through to_json (proper escaping of rendered
        index/id/routing values — elasticsearch_output.go:49-92 JSON-encodes
        every meta value; raw concat would break on quotes in user data)."""
        conf = self.conf

        def safe(col):
            # null render (missing field) must not null-propagate
            return F.coalesce(col.cast("string"), F.lit(""))

        index = compile_render(conf.get("index", "gohangout"), df, bare_is_field=False)
        action = conf.get("action", "index")
        meta_inner = [safe(index).alias("_index")]
        if conf.get("index_type"):
            meta_inner.append(F.lit(conf["index_type"]).alias("_type"))
        if conf.get("id"):
            meta_inner.append(safe(compile_render(conf["id"], df)).alias("_id"))
        if conf.get("routing"):
            meta_inner.append(safe(compile_render(conf["routing"], df)).alias("routing"))
        meta = F.to_json(F.struct(F.struct(*meta_inner).alias(action)))
        source = F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns]))
        # source_field / bytes_source_field passthrough
        # (elasticsearch_output.go:553-566): ship a pre-encoded field
        # VERBATIM as the source line instead of re-encoding the event;
        # bytes_source_field (binary column, cast utf8) takes precedence over
        # source_field, and a NULL rendered value falls back to whole-event
        # encoding per row (the reference's `if t == nil` branches).
        raw = None
        if conf.get("bytes_source_field"):
            raw = compile_render(conf["bytes_source_field"], df).cast("string")
        elif conf.get("source_field"):
            raw = compile_render(conf["source_field"], df).cast("string")
        if raw is not None:
            source = F.coalesce(raw, source)
        return df.select(F.concat(meta, F.lit("\n"), source).alias("line"))

    lines = bulk_lines

    @staticmethod
    def success(status: int, body: str) -> bool:
        # fast path: "errors":false substring scan skips the JSON decode
        # (elasticsearch_output.go:133-139, the "90%+ scenes" note);
        # partial failures go through the retry_lines per-item verdicts
        return status < 300 and '"errors":false' in body.replace(" ", "")

    @staticmethod
    def retry_lines(body: str, buf: list[str]) -> list[str] | None:
        """Per-item bulk verdicts (elasticsearch_output.go:134-179): item status
        429 or >= 500 → re-bulk that doc; other failed statuses (mapping errors
        etc.) are logged and dropped; an unparseable response drops the batch
        ("will NOT retry", :143-144). items[i] aligns with buf[i] — each buffered
        line is one action+source pair."""
        import json
        import logging

        log = logging.getLogger("gohangout_spark.sinks.es")
        try:
            items = json.loads(body)["items"]
            if len(items) != len(buf):
                raise ValueError(f"{len(items)} items for {len(buf)} actions")
            retry: list[str] = []
            for item, line in zip(items, buf):
                result = next(iter(item.values()))  # {"index": {...}} etc.
                status = int(result.get("status", 200))
                if status < 300:
                    continue
                if status == 429 or status >= 500:
                    retry.append(line)
                else:
                    log.warning("dropping failed doc (status %s): %.200s", status, line)
            return retry
        except (ValueError, KeyError, TypeError, AttributeError, StopIteration) as e:
            # any structural surprise (null items, non-dict entries): drop the
            # batch like the reference, never crash the Spark task into a
            # partition-level re-send of already-indexed docs
            log.error("could not parse bulk response (%s); will NOT retry", e)
            return []

    def write_batch(self, df: DataFrame, micro_batch: bool = False) -> None:
        self.maybe_resniff()
        super().write_batch(df, micro_batch)


def _driver_lines(lines: DataFrame, bulk_actions: int) -> list | None:
    """A micro-batch's rows, collected to the driver, when it has no more
    rows than ``bulk_actions``; else None. The reference buffers that many
    docs in process (bulk_http.go:16-20), so a small trigger costs one count
    and one collect over the frame the pipeline persisted per micro-batch,
    both JVM-only jobs. A batch job is never counted: its frame is not
    persisted, and the count would recompute the whole chain."""
    # counted on the physical plan's RDD: one stage, where Dataset.count
    # adds a shuffle and a final aggregation stage
    n = lines._jdf.queryExecution().toRdd().count()
    if n > bulk_actions:
        return None
    return lines.collect() if n else []


def _urllib_transport(url: str, payload: bytes):
    import urllib.request

    headers = {"Content-Type": "application/x-ndjson"}
    # payload None = GET-style probe (ES /_nodes sniff, ClickHouse DESC)
    if payload and payload[:2] == b"\x1f\x8b":  # gzip magic
        headers["Content-Encoding"] = "gzip"
    req = urllib.request.Request(url, data=payload, headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, resp.read().decode()
    except Exception as e:  # connection errors surface as retryable 599
        return 599, str(e)


CH_DEFAULTS = {
    "Int": "0",
    "UInt": "0",
    "Float": "0.0",
    "String": "''",
    "DateTime": "toDateTime(0)",
    "Date": "toDate(0)",
}


class ClickHouseSink(_BulkSink):
    """DESC-driven schema coercion (clickhouse_output.go:65-153,156-248):
    the table's column→type map comes from a live ``DESC TABLE`` against the
    ClickHouse HTTP interface (no JDBC jar needed) — or a hand-supplied
    ``table_schema`` for offline use. From it we build a projection that
    casts each event field to the column type and fills the reference's
    type-appropriate defaults (incl. ``DEFAULT`` expressions from the
    server) for missing/null columns. The projection is pure Column exprs;
    the actual write goes through JDBC when a ClickHouse driver jar is on
    the classpath (not bundled here), else raises with the projection still
    usable in a custom foreachBatch."""

    def __init__(self, conf=None, table_schema: dict[str, str] | None = None,
                 transport=None):
        super().__init__(conf, transport)
        self.hosts = self.conf.get("hosts")
        self.column_defaults: dict[str, object] = {}
        self.table_schema = table_schema or self.conf.get("table_schema") or {}
        if not self.table_schema:
            table = self.conf.get("table")
            if not (self.hosts and table):
                raise ValueError(
                    "ClickHouseSink needs table_schema ({col: clickhouse_type}) "
                    "or hosts+table for live DESC TABLE introspection"
                )
            desc = self.desc_table(self.hosts, table, self.transport)
            self.table_schema = {name: d["type"] for name, d in desc.items()}
            self.column_defaults = self._defaults_from_desc(desc)

    @staticmethod
    def desc_table(hosts: list[str], table: str, transport) -> dict[str, dict]:
        """``DESC TABLE`` over the ClickHouse HTTP interface
        (clickhouse_output.go:65-153 does the same over native TCP): first
        reachable host wins, rows come back as JSON. Enum8/16 types collapse
        to their base name exactly like the reference (:108-114)."""
        import json as _json
        from urllib.parse import quote

        query = f"DESC TABLE {table} FORMAT JSON"
        last = None
        for host in hosts:
            url = host.rstrip("/") + "/?query=" + quote(query)
            status, body = transport(url, None)
            if status >= 300:
                last = (host, status, body[:200])
                continue
            desc: dict[str, dict] = {}
            for row in _json.loads(body)["data"]:
                ch_type = row["type"]
                if ch_type.startswith("Enum16"):
                    ch_type = "Enum16"
                elif ch_type.startswith("Enum8"):
                    ch_type = "Enum8"
                desc[row["name"]] = {
                    "type": ch_type,
                    "default_type": row.get("default_type", ""),
                    "default_expression": row.get("default_expression", ""),
                }
            return desc
        raise RuntimeError(f"DESC TABLE {table} failed on all hosts: {last}")

    @staticmethod
    def _defaults_from_desc(desc: dict[str, dict]) -> dict[str, object]:
        """Server-declared DEFAULT expressions + type defaults
        (clickhouse_output.go:156-248). MATERIALIZED/ALIAS columns are
        rejected like the reference (it klog.Fatals)."""
        out: dict[str, object] = {}
        for name, d in desc.items():
            dtype, expr = d.get("default_type", ""), d.get("default_expression", "")
            if dtype in ("MATERIALIZED", "ALIAS"):
                raise ValueError(
                    f"column {name}: {dtype} expression not supported "
                    "(clickhouse_output.go:166-170)"
                )
            has_default = dtype == "DEFAULT"
            t = d["type"]

            def literal(parse, fallback):
                # only LITERAL default expressions are honored; a server-side
                # expression ('now()', '1 + 2') cannot be evaluated here →
                # type default, never a construction-time crash
                if not has_default:
                    return fallback
                try:
                    return parse(expr)
                except (TypeError, ValueError):
                    return fallback

            if t in ("String", "LowCardinality(String)"):
                out[name] = expr.strip("'") if has_default else ""
            elif t.startswith(("Date", "DateTime")):
                out[name] = literal(_ch_datetime_literal, "1970-01-01 00:00:00")
            elif t.startswith("Nullable("):
                out[name] = None
            elif t.startswith(("Int", "UInt")):
                out[name] = literal(int, 0)
            elif t.startswith("Float"):
                out[name] = literal(float, 0.0)
            elif t == "IPv4":
                out[name] = "0.0.0.0"
            elif t == "IPv6":
                out[name] = "::"
            elif t.startswith("Array("):
                out[name] = []
            elif t in ("Enum8", "Enum16"):
                # reference requires the enum to declare '' as a member
                out[name] = ""
        return out

    @staticmethod
    def _spark_type(ch_type: str) -> str:
        t = ch_type.replace("Nullable(", "").replace("LowCardinality(", "").rstrip(")")
        if t.startswith("Array("):
            return f"array<{ClickHouseSink._spark_type(t[6:])}>"
        if t.startswith("Enum") or t in ("IPv4", "IPv6"):
            return "string"
        if t.startswith(("Int8", "Int16", "Int32")):
            return "int"
        if t.startswith(("Int64", "UInt32", "UInt64")):
            return "long"
        if t.startswith(("UInt8", "UInt16")):
            return "int"
        if t.startswith("Float32"):
            return "float"
        if t.startswith("Float64"):
            return "double"
        if t.startswith("DateTime"):
            return "timestamp"
        if t.startswith("Date"):
            return "date"
        return "string"

    def projection(self, df: DataFrame) -> DataFrame:
        cols = []
        for name, ch_type in self.table_schema.items():
            sp = self._spark_type(ch_type)
            nullable = ch_type.startswith("Nullable(")
            if name in df.columns:
                c = F.col(f"`{name}`").try_cast(sp)
            else:
                c = F.lit(None).cast(sp)
            if not nullable:
                if name in self.column_defaults:
                    dv = self.column_defaults[name]
                    default = (
                        F.expr("array()").cast(sp)
                        if isinstance(dv, list)
                        else F.lit(dv).try_cast(sp)
                    )
                elif sp.startswith("array"):
                    default = F.expr("array()").cast(sp)
                else:
                    default = F.lit(_ch_default(sp)).try_cast(sp)
                c = F.coalesce(c, default)
            cols.append(c.alias(name))
        return df.select(*cols)

    @property
    def endpoint(self) -> str:
        # HTTP INSERT ... FORMAT JSONEachRow — the jar-free path (same
        # interface desc_table uses); best_effort lets the server parse
        # Spark's ISO8601 timestamps
        from urllib.parse import quote

        q = quote(f"INSERT INTO {self.conf['table']} FORMAT JSONEachRow")
        return f"/?query={q}&date_time_input_format=best_effort"

    def lines(self, df: DataFrame) -> DataFrame:
        out = self.projection(df)
        return out.select(F.to_json(F.struct(*out.columns)).alias("line"))

    success = staticmethod(lambda status, body: status == 200)

    def write_batch(self, df: DataFrame, micro_batch: bool = False) -> None:
        if self.hosts:
            super().write_batch(df, micro_batch)
            return
        url = self.conf.get("jdbc_url")
        if not url:
            raise NotImplementedError(
                "ClickHouse JDBC driver not bundled; use .projection(df) in a "
                "custom foreachBatch, provide hosts for the HTTP JSONEachRow "
                "path, or jdbc_url with a driver jar"
            )
        (
            self.projection(df).write.format("jdbc")
            .option("url", url)
            .option("dbtable", self.conf["table"])
            .option("driver", "com.clickhouse.jdbc.ClickHouseDriver")
            .mode("append")
            .save()
        )


def _ch_datetime_literal(expr: str) -> str:
    """'2020-01-01 00:00:00' (quoted literal) passes; 'now()' raises."""
    s = expr.strip("'")
    if not s[:4].isdigit():
        raise ValueError(f"not a datetime literal: {expr}")
    return s


def _ch_default(spark_type: str):
    if spark_type in ("int", "long", "float", "double"):
        return 0
    if spark_type == "timestamp":
        return "1970-01-01 00:00:00"
    if spark_type == "date":
        return "1970-01-01"
    if spark_type.startswith("array"):
        return None  # arrays default to empty via coalesce below
    return ""


class InfluxdbSink(_BulkSink):
    """Line-protocol encoding as one Column expression
    (influxdb_output.go:25-64): measurement,tag=v field=v ns-timestamp.
    Batches POST to /write?db=… through the shared bulk engine
    (influxdb_output.go:180-210 wires the same HTTPBulkProcessor the ES
    output uses); InfluxDB answers 204 on success. Uncompressed by
    default."""

    COMPRESS = False

    def lines(self, df: DataFrame) -> DataFrame:
        """Null tags/fields are OMITTED from the line (influxdb_output.go:29-47
        skips missing values); missing COLUMNS are skipped at compile time.
        concat_ws assembles the parts so one null never nulls the line."""
        conf = self.conf
        measurement = compile_render(conf["measurement"], df, bare_is_field=False)
        int_types = {"int", "bigint", "smallint", "tinyint"}
        dtypes = dict(df.dtypes)

        tag_parts: list[Column] = [measurement.cast("string")]
        for tag in conf.get("tags") or []:
            if tag not in df.columns:
                continue
            c = F.col(f"`{tag}`")
            tag_parts.append(
                F.when(c.isNotNull(), F.concat(F.lit(f",{tag}="), c.cast("string")))
            )
        field_parts: list[Column] = []
        for fld in conf.get("fields") or []:
            if fld not in df.columns:
                continue
            c = F.col(f"`{fld}`")
            suffix = "i" if dtypes.get(fld) in int_types else ""
            field_parts.append(
                F.when(
                    c.isNotNull(),
                    F.concat(F.lit(f"{fld}="), c.cast("string"), F.lit(suffix)),
                )
            )
        ts_field = conf.get("timestamp", "@timestamp")
        ns = F.coalesce(
            (F.unix_micros(F.col(f"`{ts_field}`")) * 1000).cast("string"),
            (F.unix_micros(F.current_timestamp()) * 1000).cast("string"),
        ) if ts_field in df.columns else (
            F.unix_micros(F.current_timestamp()) * 1000
        ).cast("string")
        return df.select(
            F.concat(
                F.concat_ws("", *tag_parts),
                F.lit(" "),
                F.concat_ws(",", *field_parts),
                F.lit(" "),
                ns,
            ).alias("line")
        )

    def __init__(self, conf=None, transport=None):
        super().__init__(conf, transport)
        self.hosts = list(
            self.conf.get("hosts") or [self.conf.get("addr", "http://localhost:8086")]
        )
        db = self.conf.get("db", "")
        self.endpoint = f"/write?db={db}" if db else "/write"

    success = staticmethod(lambda status, body: status < 300)


SINK_REGISTRY = {
    "Stdout": StdoutSink,
    "Dot": DotSink,
    "Memory": MemorySink,
    "File": FileSink,
    "Kafka": KafkaSink,
    "Elasticsearch": ElasticsearchSink,
    "Clickhouse": ClickHouseSink,
    "ClickHouse": ClickHouseSink,
    "Influxdb": InfluxdbSink,
}


class TCPSink(Sink):
    """JSON-lines over TCP (output/tcp_output.go:33-146): executors open one
    connection per partition (the reference's ``concurrent`` writers ≈ task
    parallelism), write newline-delimited JSON, redial per batch."""

    def write_batch(self, df: DataFrame) -> None:
        host = self.conf.get("host", "localhost")
        port = int(self.conf.get("port", 9999))
        payload = df.select(
            F.to_json(F.struct(*[F.col(f"`{c}`") for c in df.columns])).alias("line")
        )

        def send_partition(it):
            import socket

            sock = None  # dial lazily so empty partitions open no connection
            try:
                for row in it:  # stream rows — never materialize the partition
                    if sock is None:
                        sock = socket.create_connection((host, port), timeout=30)
                    sock.sendall((row["line"] + "\n").encode())
            finally:
                if sock is not None:
                    sock.close()

        payload.foreachPartition(send_partition)


SINK_REGISTRY["TCP"] = TCPSink
