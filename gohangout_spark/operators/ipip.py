"""IPIP filter — GeoIP enrichment of an IP field.

Mirrors /root/reference/filter/ipip.go:84-135: look up ``src`` in a local
datx/ipdb database, write country_name/region_name/city_name/isp/… either
flat or under ``target``.

Spark realization: the lookup database is a per-executor resource opened
inside a vectorized pandas UDF (``mapInPandas`` pattern — the standard
MaxMind-on-Spark shape). Providers are pluggable:

- ``DatxProvider`` (used when ``database:`` is configured): a real reader
  for the public ipip.net datx binary layout — /16 slot table + binary
  search over ordered range records; file shipped to executors via
  ``SparkFiles``. ``build_datx`` serializes fixtures/test databases.
- ``DeterministicFakeGeoProvider`` (default without ``database:``):
  hash-based, stable, for tests and the correctness oracle.

At 100 TB scale this is a broadcast range-join in disguise; with a real DB the
provider opens the file once per worker (function attribute caching), not per
batch.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gohangout_spark.expr.paths import field_col
from gohangout_spark.operators.base import Filter, FilterEffect

GEO_FIELDS = ["country_name", "region_name", "city_name", "isp", "latitude", "longitude"]

GEO_SCHEMA = T.StructType(
    [
        T.StructField("country_name", T.StringType()),
        T.StructField("region_name", T.StringType()),
        T.StructField("city_name", T.StringType()),
        T.StructField("isp", T.StringType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
    ]
)

_FAKE_COUNTRIES = ["CN", "US", "DE", "JP", "BR"]
_FAKE_CITIES = ["beijing", "newyork", "berlin", "tokyo", "saopaulo"]


class DeterministicFakeGeoProvider:
    """Stable fake lookups: private ranges → local, else hash-bucketed."""

    def lookup_batch(self, ips: pd.Series) -> pd.DataFrame:
        def one(ip):
            if ip is None or not isinstance(ip, str) or ip.count(".") != 3:
                return (None, None, None, None, None, None)
            if ip.startswith(("10.", "192.168.", "127.")):
                return ("-", "-", "intranet", "-", 0.0, 0.0)
            h = int(hashlib.md5(ip.encode()).hexdigest()[:8], 16)
            i = h % len(_FAKE_COUNTRIES)
            return (
                _FAKE_COUNTRIES[i],
                f"region{h % 10}",
                _FAKE_CITIES[i],
                f"isp{h % 4}",
                round((h % 18000) / 100.0 - 90.0, 2),
                round((h % 36000) / 100.0 - 180.0, 2),
            )

        rows = [one(ip) for ip in ips]
        return pd.DataFrame(rows, columns=GEO_FIELDS)


class DatxProvider:
    """Reader for the public ipip.net ``datx`` binary layout (the format the
    reference consumes through the open-source ipipdotnet readers,
    filter/ipip.go:90-92):

    - ``[0:4]`` big-endian uint32 — byte length of the index area;
    - index area: 65536 little-endian uint32 slots (one per /16 prefix;
      value = ordinal of the first 9-byte range record that can cover the
      prefix), then consecutive 9-byte range records:
      ``end_ip`` (4 B big-endian, inclusive range end), ``text_offset``
      (3 B little-endian, into the text area), ``text_len`` (2 B big-endian);
    - text area: tab-joined location fields per record.

    Lookup = the /16 slot gives the search floor, then a BINARY SEARCH over
    the ordered ``end_ip`` records (the reference's linear ``start += 9``
    scan, ipip.go via datx readers, done in O(log n)); the record's text
    fields map positionally like ipip.go:100-131 maps ``a[]``:
    a[0]=country, a[1]=province/region, a[2]=city, a[4]=isp, a[5]=lat,
    a[6]=lon.

    The file is opened lazily ONCE per executor process (function-attribute
    caching); distribute it to executors with
    ``spark.sparkContext.addFile(path)`` — when the literal path is absent
    on a worker, ``SparkFiles.get(basename)`` is tried.
    """

    _SLOTS_BYTES = 65536 * 4

    def __init__(self, path: str):
        self.path = path
        self._index: bytes | None = None
        self._text: bytes | None = None
        self._n_recs = 0

    def __getstate__(self):
        # ship only the path to executors; each worker maps the file itself
        return {"path": self.path}

    def __setstate__(self, state):
        self.path = state["path"]
        self._index = None
        self._text = None
        self._n_recs = 0

    def _resolve_path(self) -> str:
        import os

        if os.path.exists(self.path):
            return self.path
        from pyspark import SparkFiles

        cand = SparkFiles.get(os.path.basename(self.path))
        if os.path.exists(cand):
            return cand
        raise FileNotFoundError(
            f"datx database {self.path!r} not found locally or via SparkFiles"
        )

    def _load(self) -> None:
        if self._index is not None:
            return
        import struct

        with open(self._resolve_path(), "rb") as f:
            data = f.read()
        index_len = struct.unpack(">I", data[:4])[0]
        self._index = data[4 : 4 + index_len]
        self._text = data[4 + index_len :]
        self._n_recs = (index_len - self._SLOTS_BYTES) // 9

    def _find(self, ip: str) -> list[str] | None:
        import socket
        import struct

        try:
            nip = socket.inet_aton(ip)
        except (OSError, TypeError):
            return None
        index, text = self._index, self._text
        prefix = (nip[0] << 8) | nip[1]
        lo = struct.unpack("<I", index[prefix * 4 : prefix * 4 + 4])[0]
        hi = self._n_recs
        base = self._SLOTS_BYTES
        # first record with end_ip >= nip (records ordered by end_ip;
        # big-endian storage makes the bytes compare like the integers)
        while lo < hi:
            mid = (lo + hi) // 2
            rec = base + mid * 9
            if index[rec : rec + 4] >= nip:
                hi = mid
            else:
                lo = mid + 1
        if lo >= self._n_recs:
            return None
        rec = base + lo * 9
        off = struct.unpack("<I", index[rec + 4 : rec + 7] + b"\x00")[0]
        length = struct.unpack(">H", index[rec + 7 : rec + 9])[0]
        return text[off : off + length].decode("utf-8").split("\t")

    def lookup_batch(self, ips: pd.Series) -> pd.DataFrame:
        self._load()

        def one(ip):
            a = self._find(ip) if isinstance(ip, str) else None
            if a is None:
                return (None, None, None, None, None, None)

            def fget(i):
                return a[i] if len(a) > i and a[i] != "" else None

            def ffloat(i):
                v = fget(i)
                try:
                    return float(v) if v is not None else None
                except ValueError:
                    return None

            return (fget(0), fget(1), fget(2), fget(4), ffloat(5), ffloat(6))

        rows = [one(ip) for ip in ips]
        return pd.DataFrame(rows, columns=GEO_FIELDS)


def build_datx(ranges: list[tuple[str, list[str]]]) -> bytes:
    """Serialize (end_ip, fields) ranges into the datx layout DatxProvider
    reads — the fixture builder for parity tests and for generating small
    local databases. ``ranges`` must be sorted by end_ip; each range covers
    (previous end_ip, end_ip]."""
    import socket
    import struct

    recs = []
    texts = []
    text_blob = b""
    for end_ip, fields in ranges:
        t = "\t".join(fields).encode("utf-8")
        texts.append((len(text_blob), len(t)))
        text_blob += t
        recs.append(socket.inet_aton(end_ip))
    # /16 slot table: ordinal of the first record whose end_ip can cover
    # the prefix's lowest address
    slots = bytearray()
    n = len(recs)
    for p in range(65536):
        plow = bytes([p >> 8, p & 0xFF, 0, 0])
        lo, hi = 0, n
        while lo < hi:
            mid = (lo + hi) // 2
            if recs[mid] >= plow:
                hi = mid
            else:
                lo = mid + 1
        slots += struct.pack("<I", lo)
    body = bytearray(slots)
    for rec_end, (off, length) in zip(recs, texts):
        body += rec_end
        body += struct.pack("<I", off)[:3]
        body += struct.pack(">H", length)
    return struct.pack(">I", len(body)) + bytes(body) + text_blob


class IPIP(Filter):
    def __init__(
        self,
        src: str,
        target: str | None = None,
        provider=None,
        database: str | None = None,
        language: str | None = None,  # accepted for config parity (ipip.go)
        type: str | None = None,  # noqa: A002 - reference config key
        overwrite: bool = True,
    ):
        self.src = src
        self.target = target
        self.overwrite = overwrite
        if provider is None:
            provider = DatxProvider(database) if database else DeterministicFakeGeoProvider()
        self.provider = provider

    def build(self, df: DataFrame) -> FilterEffect:
        """Lookup hit/miss maps to the reference's Filter() success bool
        (ipip.go:84-99 returns false on unrenderable src or failed Find);
        the geo struct is a pandas-UDF scratch column on the effect's frame."""
        provider = self.provider
        src_col = field_col(self.src, df).cast("string")

        @F.pandas_udf(GEO_SCHEMA)
        def geo_lookup(ips: pd.Series) -> pd.DataFrame:
            return provider.lookup_batch(ips)

        eff = FilterEffect(
            frame=df.withColumn("__geo", geo_lookup(src_col)),
            scratch=["__geo"],
            success=src_col.isNotNull() & F.col("__geo.country_name").isNotNull(),
        )
        if self.target:
            eff.assignments[self.target] = F.col("__geo")
        else:
            for fname in GEO_FIELDS:
                new = F.col("__geo").getItem(fname)
                if not self.overwrite and fname in df.columns:
                    new = F.coalesce(F.col(f"`{fname}`"), new)
                eff.assignments[fname] = new
        return eff
