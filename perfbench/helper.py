"""Load generator and bulk receiver, run as a separate process.

The benchmark starts this file as a child process and drives it with one
JSON command per line on stdin; each command is answered with one JSON line
on stdout. Keeping the generator and the receiver out of the benchmark's
process means their work never competes for the driver's interpreter lock.

Commands:
  {"cmd": "kafka", "partitions": P}    start a one-node FakeKafkaCluster
  {"cmd": "produce", "topic": T, "lines": [...], "start": t0, "rate": R}
        open-loop producer: line i is due at t0 + i / R and carries that
        due time (UNIX ms) wherever the line holds the token "{due}";
        line i goes to partition i % P. Sending never waits for the
        engine, and the reply comes at once.
  {"cmd": "stats", "topic": T}  produced count, how late the producer ran
        and producer errors (for topic T, or all topics)
  {"cmd": "dump", "path": F}   write every receipt to F, then forget them
  {"cmd": "quit"}

The bulk receiver is a minimal HTTP server on 127.0.0.1 that stamps each
request's arrival and answers the Elasticsearch fast-path success body
({"errors":false}); bodies are stored raw and decoded only by the
benchmark, after the timed window.

Threads: the command loop, the receiver's event loop and the producer, plus
the in-repo broker's accept and per-connection threads.
"""

from __future__ import annotations

import asyncio
import json
import os
import struct
import sys
import threading
import time

_OK_BODY = b'{"took":0,"errors":false,"items":[]}'


class Receiver:
    """asyncio HTTP/1.1 server: one thread serves every connection."""

    def __init__(self):
        self.receipts: list[tuple[float, bytes]] = []
        self.busy_s = 0.0
        self.lock = threading.Lock()
        self.loop = asyncio.new_event_loop()
        ready = threading.Event()
        self.thread = threading.Thread(target=self._run, args=(ready,), daemon=True)
        self.thread.start()
        ready.wait(10)

    def _run(self, ready):
        asyncio.set_event_loop(self.loop)
        self.server = self.loop.run_until_complete(
            asyncio.start_server(self._handle, "127.0.0.1", 0)
        )
        self.port = self.server.sockets[0].getsockname()[1]
        ready.set()
        self.loop.run_forever()

    async def _handle(self, reader, writer):
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                t0 = time.perf_counter()
                length = 0
                for line in head.split(b"\r\n")[1:]:
                    k, _, v = line.partition(b":")
                    if k.strip().lower() == b"content-length":
                        length = int(v.strip())
                body = await reader.readexactly(length) if length else b""
                arrived = time.time()
                writer.write(
                    b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
                    b"Content-Length: %d\r\n\r\n%s" % (len(_OK_BODY), _OK_BODY)
                )
                await writer.drain()
                with self.lock:
                    self.receipts.append((arrived, body))
                    self.busy_s += time.perf_counter() - t0
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()

    def take(self):
        with self.lock:
            out, self.receipts = self.receipts, []
            busy, self.busy_s = self.busy_s, 0.0
        return out, busy

    def close(self):
        def stop():
            self.server.close()
            self.loop.stop()

        self.loop.call_soon_threadsafe(stop)
        self.thread.join(10)


class Producer:
    """Open loop: sends on the due-time schedule whatever the engine does."""

    TICK_S = 0.01

    def __init__(self, bootstrap, topic, lines, start, rate, partitions):
        from gohangout_spark.sources.kafka_wire import ClusterWireClient

        self.client = ClusterWireClient(bootstrap, message_format="v2")
        self.topic, self.lines = topic, lines
        self.start, self.rate, self.partitions = start, rate, partitions
        self.produced = 0
        self.max_late_s = 0.0
        self.error = None
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self):
        try:
            n = len(self.lines)
            i = 0
            while i < n:
                now = time.time()
                due_now = min(n, int((now - self.start) * self.rate) + 1)
                if due_now <= i:
                    time.sleep(min(self.TICK_S, self.start + i / self.rate - now))
                    continue
                batches: dict[int, list] = {}
                for j in range(i, due_now):
                    due_ms = int((self.start + j / self.rate) * 1000)
                    value = self.lines[j].replace("{due}", str(due_ms)).encode()
                    batches.setdefault(j % self.partitions, []).append(
                        (None, value, due_ms)
                    )
                for part in sorted(batches):
                    self.client.produce(self.topic, part, batches[part])
                self.max_late_s = max(
                    self.max_late_s, time.time() - (self.start + i / self.rate)
                )
                self.produced = due_now
                i = due_now
                time.sleep(self.TICK_S)
        except Exception as e:  # reported through "stats", never swallowed
            self.error = repr(e)
        finally:
            self.client.close()


def main():
    receiver = Receiver()
    cluster = None
    partitions = 1
    producers: list[Producer] = []
    out = sys.stdout

    def reply(obj):
        out.write(json.dumps(obj) + "\n")
        out.flush()

    reply({"receiver": f"http://127.0.0.1:{receiver.port}"})
    try:
        for raw in sys.stdin:
            msg = json.loads(raw)
            cmd = msg["cmd"]
            if cmd == "kafka":
                from gohangout_spark.sources.kafka_wire import FakeKafkaCluster

                partitions = int(msg["partitions"])
                cluster = FakeKafkaCluster(num_brokers=1, num_partitions=partitions)
                cluster.start()
                reply({"bootstrap": cluster.bootstrap})
            elif cmd == "produce":
                producers.append(
                    Producer(cluster.bootstrap, msg["topic"], msg["lines"],
                             float(msg["start"]), float(msg["rate"]), partitions)
                )
                reply({"ok": True})
            elif cmd == "stats":
                mine = [p for p in producers if p.topic == msg.get("topic", p.topic)]
                reply({
                    "produced": sum(p.produced for p in mine),
                    "max_late_s": max((p.max_late_s for p in mine), default=0.0),
                    "errors": [p.error for p in mine if p.error],
                })
            elif cmd == "dump":
                receipts, busy = receiver.take()
                with open(msg["path"], "wb") as f:
                    for arrived, body in receipts:
                        f.write(struct.pack(">dI", arrived, len(body)))
                        f.write(body)
                reply({"requests": len(receipts), "busy_s": busy})
            elif cmd == "quit":
                break
    finally:
        for p in producers:
            p.thread.join(30)
        if cluster is not None:
            cluster.stop()
        receiver.close()
    reply({"bye": True})


def read_dump(path):
    """-> [(arrival_epoch_s, raw_body_bytes)] as written by "dump"."""
    out = []
    with open(path, "rb") as f:
        data = f.read()
    pos = 0
    while pos < len(data):
        arrived, n = struct.unpack_from(">dI", data, pos)
        pos += 12
        out.append((arrived, data[pos:pos + n]))
        pos += n
    return out


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    main()
