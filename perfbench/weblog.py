"""Seeded weblog lines, the pipeline config that parses them, and a
pure-Python reference of that chain used to check the engine's output.

The chain is examples/weblog.yml with two changes. Grok's first pattern also
captures `request_time`, so LinkStatsMetric 'team->request_time' has values
to aggregate. The `Random(10)` drop becomes a deterministic predicate, so
the output can be checked.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import random
from zoneinfo import ZoneInfo

NAMES = ["auth", "cart", "search", "health"]
TEAMS = {"auth": "platform", "cart": "commerce"}
STATUSES = [200, 200, 200, 200, 200, 200, 301, 404, 500, 503]
GARBAGE = [
    "GET /index.html HTTP/1.1 -",
    "connection reset by peer",
    "NOT A WEBLOG LINE",
    "- - - - -",
]
SHANGHAI = ZoneInfo("Asia/Shanghai")
# 2023-11-14T22:13:20Z; backfill timestamps spread over the next three days
BASE_MS = 1_700_000_000_000
SPAN_MS = 3 * 86_400_000


def chain_config(path_or_topic: dict, receiver: str, metric: bool) -> dict:
    """The pipeline config. ``path_or_topic`` is the input plugin entry."""
    filters = [
        {"Grok": {
            "src": "message",
            "match": [
                r"^(?P<logtime>\S+) (?P<name>\w+) (?P<status>\d+) (?P<request_time>\d+)$",
                "^%{USER:user} %{INT:status} %{INT:request_time}$",
            ],
            "failTag": "_grokparsefailure",
            "remove_fields": ["message"],
        }},
        {"Date": {
            "src": "logtime",
            "location": "Asia/Shanghai",
            "formats": ["RFC3339", "2006-01-02T15:04:05", "UNIX_MS"],
            "remove_fields": ["logtime"],
        }},
        {"Convert": {"fields": {
            "status": {"to": "int"},
            "request_time": {"to": "float", "setto_if_fail": 0.0},
        }}},
        {"Translate": {"source": "name", "target": "team", "dictionary": dict(TEAMS)}},
        # deterministic stand-in for weblog.yml's 'EQ(status,200) && Random(10)'
        {"Drop": {"if": ['EQ(status,200) && EQ(name,"cart")']}},
    ]
    if metric:
        filters.append({"LinkStatsMetric": {
            "fieldsLink": "team->request_time",
            "batchWindow": 60,
            "reserveWindow": 300,
            "accumulateMode": "cumulative",
            "strictCumulative": True,
            "drop_original_event": False,
        }})
    return {
        "inputs": [path_or_topic],
        "filters": filters,
        "outputs": [{"Elasticsearch": {
            "hosts": [receiver],
            "index": "web-%{team}-%{+2006.01.02}",
            "bulk_actions": 5000,
            "if": ["Exist(team)"],
        }}],
    }


def make_lines(seed: int, n: int, stream: bool) -> list[str]:
    """n seeded lines: 80% named events, 16% user lines, 4% garbage.

    Backfill lines carry their event time in one of the Date filter's three
    formats; stream lines carry the placeholder "{due}", which the load
    generator replaces with the line's due time in UNIX ms."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        r = rng.random()
        status, rt = rng.choice(STATUSES), rng.randrange(1, 2000)
        if r < 0.04:
            out.append(rng.choice(GARBAGE))
        elif r < 0.20:
            out.append(f"user{rng.randrange(5000)} {status} {rt}")
        else:
            name = rng.choice(NAMES)
            if stream:
                logtime = "{due}"
            else:
                ms = BASE_MS + rng.randrange(SPAN_MS)
                f = rng.random()
                if f < 0.8:
                    logtime = str(ms)
                elif f < 0.9:
                    t = dt.datetime.fromtimestamp(ms / 1000, dt.timezone.utc)
                    logtime = t.astimezone(SHANGHAI).isoformat(timespec="milliseconds")
                else:
                    t = dt.datetime.fromtimestamp(ms // 1000, SHANGHAI)
                    logtime = t.strftime("%Y-%m-%dT%H:%M:%S")
            out.append(f"{logtime} {name} {status} {rt}")
    return out


def _parse_logtime(s: str) -> int:
    """Event time in UNIX ms, as the Date filter reads each format."""
    if s.isdigit():
        return int(s)
    t = dt.datetime.fromisoformat(s)
    if t.tzinfo is None:
        t = t.replace(tzinfo=SHANGHAI)
    return int(round(t.timestamp() * 1000))


def reference_event(line: str, due_ms: int | None = None) -> dict | None:
    """The document the chain sends to the bulk sink for one line, or None
    when the line is dropped or routed away (no team)."""
    parts = line.split(" ")
    if len(parts) != 4 or not (parts[2].isdigit() and parts[3].isdigit()):
        return None
    logtime, name, status, rt = parts
    if name not in TEAMS or (status == "200" and name == "cart"):
        return None
    ts = due_ms if logtime == "{due}" else _parse_logtime(logtime)
    return {"ts": ts, "name": name, "status": int(status),
            "request_time": float(rt), "team": TEAMS[name]}


def doc_key(ev: dict) -> tuple:
    day = dt.datetime.fromtimestamp(ev["ts"] / 1000, dt.timezone.utc).strftime("%Y.%m.%d")
    return (f"web-{ev['team']}-{day}", ev["ts"], ev["name"], ev["status"],
            ev["request_time"], ev["team"])


def received_event(index: str, doc: dict) -> tuple:
    """Canonical key of a received document, comparable with doc_key."""
    t = dt.datetime.fromisoformat(doc["@timestamp"])
    return (index, int(round(t.timestamp() * 1000)), doc.get("name"),
            doc.get("status"), doc.get("request_time"), doc.get("team"))


def digest(keys) -> str:
    """Order-insensitive digest of document keys."""
    h = hashlib.sha256()
    for k in sorted(keys):
        h.update(json.dumps(k).encode())
    return h.hexdigest()


def decode_bulk(receipts):
    """-> [(arrival_s, index, doc)] from raw gzip/_bulk request bodies."""
    import gzip

    out = []
    for arrived, body in receipts:
        if body[:2] == b"\x1f\x8b":
            body = gzip.decompress(body)
        lines = body.decode().strip().split("\n")
        for action, source in zip(lines[0::2], lines[1::2]):
            meta = json.loads(action)
            index = next(iter(meta.values())).get("_index")
            out.append((arrived, index, json.loads(source)))
    return out
