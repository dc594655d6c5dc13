"""Byte pin of the Kafka dev wire: a fixed script of Produce, Fetch and
ListOffsets exchanges against FakeKafkaBroker (and a two-node
FakeKafkaCluster for the NOT_LEADER replies), run for both message
formats x every codec (the client's ``compression`` and the broker's
``fetch_codec``). The sha256 of every request frame and every response
frame must match tests/data/kafka_wire_golden.json, so a refactor of
either side of the wire cannot move a byte, error replies included.

``PYTHONPATH=. python tests/test_kafka_wire_golden.py`` prints the
digests of the current code as JSON, in the layout of the pinned file."""

import hashlib
import json
import pathlib

import pytest

from gohangout_spark.sources.kafka_wire import (
    WIRE_CODECS,
    FakeKafkaBroker,
    FakeKafkaCluster,
    KafkaProtocolError,
    KafkaWireClient,
)

GOLDEN = pathlib.Path(__file__).resolve().parent / "data" / "kafka_wire_golden.json"

KEYED = [(b"k%d" % i, b"keyed-value-%d" % i * (i + 1), 1_000 + i) for i in range(4)]
NULL_KEY = [(None, b"null-key-%d" % i, 2_000 + i) for i in range(3)]


def _script(c: KafkaWireClient, node0: KafkaWireClient):
    """(step, call) in order; ``node0`` talks to node 0 of a two-node
    cluster, which leads partition 0 and not partition 1."""
    hw = len(KEYED) + len(NULL_KEY)
    return [
        ("produce_keyed", lambda: c.produce("t", 0, KEYED)),
        ("produce_null_key", lambda: c.produce("t", 0, NULL_KEY)),
        ("list_latest", lambda: c.list_offset("t", 0, -1)),
        ("list_earliest", lambda: c.list_offset("t", 0, -2)),
        ("fetch_from_0", lambda: c.fetch("t", 0, 0)),
        ("fetch_mid_small_page", lambda: c.fetch("t", 0, 2, max_bytes=40)),
        ("fetch_mid_one_byte", lambda: c.fetch("t", 0, 5, max_bytes=1)),
        ("fetch_at_hw", lambda: c.fetch("t", 0, hw)),
        ("fetch_beyond_hw", lambda: c.fetch("t", 0, hw + 2)),
        ("fetch_unknown_partition", lambda: c.fetch("t", 5, 0)),
        ("fetch_unknown_topic", lambda: c.fetch("nope", 0, 0)),
        ("produce_unknown_partition", lambda: c.produce("t", 5, NULL_KEY)),
        ("list_unknown_partition", lambda: c.list_offset("t", 5)),
        ("cluster_produce_leader", lambda: node0.produce("c", 0, KEYED)),
        ("cluster_fetch_leader", lambda: node0.fetch("c", 0, 0)),
        ("cluster_produce_not_leader", lambda: node0.produce("c", 1, KEYED)),
        ("cluster_fetch_not_leader", lambda: node0.fetch("c", 1, 0)),
        ("cluster_list_not_leader", lambda: node0.list_offset("c", 1)),
    ]


def wire_digests(fmt: str, codec: str | None) -> dict[str, list[str]]:
    """step -> [sha256(request frame), sha256(response frame)], frames
    as the broker reads and answers them (size prefix excluded)."""
    frames = []
    real = FakeKafkaBroker._dispatch

    def recording(self, frame, conn=None):
        resp = real(self, frame, conn)
        frames.append((frame, resp))
        return resp

    def sha(b: bytes) -> str:
        return hashlib.sha256(b).hexdigest()

    out = {}
    FakeKafkaBroker._dispatch = recording
    try:
        with FakeKafkaBroker(num_partitions=2, fetch_codec=codec) as b, \
             FakeKafkaCluster(num_brokers=2, num_partitions=2, fetch_codec=codec) as cl, \
             KafkaWireClient(b.bootstrap, message_format=fmt, compression=codec) as c, \
             KafkaWireClient(cl.nodes[0].bootstrap, message_format=fmt,
                             compression=codec) as node0:
            for step, call in _script(c, node0):
                seen = len(frames)
                try:
                    call()
                except KafkaProtocolError:
                    pass  # the error replies are part of the pin
                ((req, resp),) = frames[seen:]
                out[step] = [sha(req), sha(resp)]
    finally:
        FakeKafkaBroker._dispatch = real
    return out


COMBOS = [(fmt, codec) for fmt in ("v0", "v2") for codec in WIRE_CODECS]


@pytest.mark.parametrize("fmt,codec", COMBOS)
def test_wire_bytes_match_golden(fmt, codec):
    want = json.loads(GOLDEN.read_text())[f"{fmt}/{codec or 'none'}"]
    got = wire_digests(fmt, codec)
    moved = {step: (want.get(step), d) for step, d in got.items() if want.get(step) != d}
    assert not moved, moved
    assert list(got) == list(want)


if __name__ == "__main__":
    print(json.dumps(
        {f"{f}/{c or 'none'}": wire_digests(f, c) for f, c in COMBOS}, indent=1
    ))
