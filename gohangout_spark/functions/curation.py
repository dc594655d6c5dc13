"""Corpus-curation operators: decontamination, PII redaction, repetition
scoring, deterministic mixture weighting.

The four standard steps between a raw crawl and a training mixture that the
reference's ETL-filter model (filter chains over event streams) doesn't
cover. All are Spark-first:

- decontaminate: benchmark snippets broadcast to the scan (a few thousand
  strings), membership is a JVM ``exists``/``contains`` — no shuffle, no
  Python. At 100 TB the corpus side streams; only the snippet list ships.
- redact_pii: chained ``regexp_replace`` — pure codegen projection.
- repetition_stats: explode→count→agg; two shuffles keyed on doc_id, both
  combiner-reduced (counts), so shuffle volume is O(distinct words per doc).
- weighted_mixture: per-source keep-probability via md5 HEX-PREFIX
  comparison — uniform, layout-independent, and expressible identically in
  any engine (string compare), so the draw itself is oracle-checkable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gohangout_spark.functions.num import round_half_up

# RE2-and-Java-compatible patterns (no backrefs/lookaround): these must run
# unchanged in Spark, the DuckDB oracle, and any downstream engine
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}"

PII_PATTERNS: list[tuple[str, str]] = [
    (EMAIL_RE, "<EMAIL>"),
    (IPV4_RE, "<IP>"),
    (PHONE_RE, "<PHONE>"),
]


def redact_pii(col: Column, patterns: list[tuple[str, str]] | None = None) -> Column:
    """Replace emails / IPv4s / phone numbers with typed placeholders."""
    out = col
    for pat, repl in patterns or PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def _words(col: Column) -> Column:
    """The module's single whitespace tokenizer — n-gram decontamination,
    repetition stats, and vocabulary must tokenize IDENTICALLY or their
    signals silently diverge."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def decontaminate(
    docs: DataFrame,
    snippets: list[str],
    text_col: str = "text",
    mark_col: str = "contaminated",
) -> DataFrame:
    """Mark documents containing any benchmark snippet verbatim.

    ``snippets`` is the eval-benchmark text fragments (driver-side list —
    benchmarks are small by nature); membership is
    ``exists(snippets, s -> contains(text, s))`` evaluated scan-side.
    Filter with ``~F.col(mark_col)`` to drop contaminated docs.
    NULL text marks False (clean), never NULL — ``exists`` is three-valued
    and a NULL mark would make ``where(~mark)`` silently DROP the row.
    """
    arr = F.array(*[F.lit(s) for s in snippets])
    return docs.withColumn(
        mark_col,
        F.coalesce(
            F.exists(arr, lambda s: F.col(text_col).contains(s)), F.lit(False)
        ),
    )


def _word_ngrams(col: Column, n: int, hashed, bound: bool = True) -> Column:
    """Distinct word n-grams of a text column, scan-side.

    ``transform(sequence(1, len-n+1), i -> slice(words, i, n))`` — all
    built-in HOFs, no Python. ``hashed`` truthy emits a 64-bit hash of
    each gram (8-byte join keys) instead of the gram string: the default
    (``True``) is xxhash64 OF THE TOKEN SLICE ITSELF (r10: Spark hashes
    array elements with chained seeds, so token boundaries stay part of
    the key exactly as the previous ``concat_ws(" ", slice)`` string did,
    minus one string allocation per gram — measured 0.519 → 0.471 s on
    the sf0.1 corpus 4-gram explode, per-doc distinct counts identical);
    the string ``"md5"`` selects
    :func:`~gohangout_spark.functions.dedup.md5_hash64` of the
    space-joined gram STRING, whose value a SQL oracle can recompute —
    the replayability hook behind the bloom_md5_decontaminate hash gate,
    so that path keeps the concat. Docs shorter than ``n`` words
    yield an empty array (sequence(1, 0) would count DOWN, so guard first).

    ``bound=False`` opts OUT of the bound-tokenizer form: a gram array
    that becomes the argument of a Python UDF must use it —
    ExtractPythonUDFs silently fails to extract a UDF whose argument
    carries the extra lambda nesting in a post-exchange projection, and
    execution dies with INTERNAL_ERROR Unevaluable (observed for both
    the md5 and xxhash paths in bloom_decontaminate's _hits).
    """
    ws = _words(col)

    def _grams(w):
        gram = lambda i: F.concat_ws(" ", F.slice(w, i, n))  # noqa: E731
        if hashed == "md5":
            from gohangout_spark.functions.dedup import md5_hash64

            mk = lambda i: md5_hash64(gram(i))  # noqa: E731
        elif hashed:
            mk = lambda i: F.xxhash64(F.slice(w, i, n))  # noqa: E731
        else:
            mk = gram
        empty = F.array().cast("array<bigint>" if hashed else "array<string>")
        return F.when(
            F.size(w) >= n,
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), F.size(w) - (n - 1)), mk)
            ),
        ).otherwise(empty)

    if not bound:
        return _grams(ws)

    # bind the token array once per ROW (transform(array(ws), …)[0], the
    # dedup.zipped_shingles trick): inlining ``ws`` would re-evaluate the
    # tokenizer inside the per-ELEMENT slice lambda — interpreted HOF eval
    # has no subexpression elimination, so that is O(tokens) splits per
    # gram (measured 0.79 s → 0.59 s on the sf0.1 4-gram projection)
    return F.transform(F.array(ws), _grams)[0]


def decontaminate_ngrams(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    min_hits: int = 1,
    hashed: bool = True,
    broadcast_eval: bool = True,
) -> DataFrame:
    """N-gram decontamination (the GPT-3/PaLM-style scale path): mark a
    training doc contaminated when it shares ≥ ``min_hits`` distinct word
    ``n``-grams with the eval corpus.

    Complements ``decontaminate`` (verbatim-snippet ``contains``): the
    snippet path is O(corpus × snippets) scan work and needs exact substring
    matches; the n-gram path catches partial/reflowed overlap and scales as
    a join. Shape: the eval side reduces to DISTINCT grams (eval suites are
    MBs — broadcast by default, so corpus grams are NEVER shuffled); corpus
    grams are generated scan-side, hash-joined, and only MATCHED rows reach
    the per-doc count agg. ``hashed`` joins on xxhash64 (8-byte keys; a
    collision needs ~2^32 distinct grams).

    Returns ``docs`` + ``contam_hits`` (distinct shared grams, 0 for clean)
    + ``contaminated`` boolean. Filter with ``~F.col("contaminated")``.
    """
    eval_grams = (
        eval_docs.select(
            F.explode(_word_ngrams(F.col(eval_text_col), n, hashed)).alias("__gram")
        )
        .dropDuplicates(["__gram"])
    )
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    corpus_grams = docs.select(
        F.col(id_col).alias("__cid"),
        F.explode(_word_ngrams(F.col(text_col), n, hashed)).alias("__gram"),
    )
    hits = (
        corpus_grams.join(eval_grams, "__gram")
        .groupBy("__cid")
        .agg(F.count(F.lit(1)).alias("contam_hits"))
    )
    out = docs.join(hits, docs[id_col] == hits["__cid"], "left").drop("__cid")
    return out.withColumn(
        "contam_hits", F.coalesce(F.col("contam_hits"), F.lit(0))
    ).withColumn("contaminated", F.col("contam_hits") >= min_hits)


class NgramBloom:
    """A packed bloom filter over xxhash64 word-n-gram keys.

    ``bits`` is a numpy uint8 array of m/8 bytes; the ``k`` probe positions
    for a key are ``splitmix64(h XOR i*C) mod m`` for i in 0..k-1 (per-probe
    remixes of the xxhash64 key — see _positions; classic double hashing
    probes an arithmetic progression, which at small m inflated the realized
    fp ~3x over theory). Membership is reproducible anywhere from
    (bits, m, k) and THIS probe scheme alone.
    """

    __slots__ = ("bits", "m", "k", "n")

    def __init__(self, bits, m: int, k: int, n: int):
        self.bits = bits
        self.m = m
        self.k = k
        self.n = n

    @staticmethod
    def _mix(x):
        # splitmix64 finalizer (public-domain PRNG mix) — uint64 wraps
        import numpy as np

        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    def _positions(self, hashes):
        # k independent probes via per-probe splitmix64 remixes of the
        # xxhash64 key. Double-hashing (h1 + i*h2 mod m) probes an
        # arithmetic progression — at small m that correlation inflates
        # the realized fp ~3x over theory; k remixes track the textbook
        # rate at ~the same vector cost.
        import numpy as np

        h = hashes.astype(np.uint64)
        m = np.uint64(self.m)
        return [
            (
                self._mix(h ^ np.uint64((i * 0xA24BAED4963EE407) & 0xFFFFFFFFFFFFFFFF)) % m
            ).astype(np.int64)
            for i in range(self.k)
        ]

    def might_contain(self, hashes):
        """Vectorized membership for a numpy int64 array of xxhash64 keys."""
        import numpy as np

        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        out = np.ones(len(hashes), dtype=bool)
        for pos in self._positions(hashes):
            out &= ((self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).astype(bool)
        return out


def build_ngram_bloom(
    eval_docs: DataFrame,
    *,
    n: int = 13,
    text_col: str = "text",
    fp_rate: float = 1e-3,
    expected_items: int | None = None,
    hashed="xxhash64",
    size: tuple[int, int] | None = None,
) -> NgramBloom:
    """Build an :class:`NgramBloom` from an eval corpus WITHOUT collecting
    it: each partition ORs its grams into a local m/8-byte bitmap inside
    mapInPandas, and the driver ORs the ≤numPartitions bitmaps. Driver
    traffic is O(partitions × m/8) regardless of eval-corpus size — the
    build itself scales to eval sets far too big to broadcast as a join
    side. Sized m = -n·ln(p)/ln(2)², k = (m/n)·ln(2) (textbook optimum).

    ``expected_items`` skips the distinct-gram count job when the caller
    already knows the cardinality (approx is fine — fp_rate degrades
    gracefully if underestimated).

    Small eval sets (≤ ``small_collect_threshold`` estimated distinct
    grams) skip the mapInPandas stage entirely: collecting the distinct
    8-byte hashes is cheaper than spinning a Python-worker stage, and the
    bitmap builds driver-side from the same probe code. Big sets keep the
    distributed build (driver traffic stays O(partitions × m/8)).

    ``hashed`` picks the gram hash (``"xxhash64"`` production default /
    ``"md5"`` for SQL replayability); ``size`` pins ``(m, k)`` explicitly
    instead of deriving them from the measured cardinality — required when
    an external oracle must rebuild the identical bitmap.
    """
    import math

    import numpy as np

    hashed = "md5" if hashed == "md5" else True
    grams = eval_docs.select(
        F.explode(_word_ngrams(F.col(text_col), n, hashed=hashed)).alias("h")
    )

    def _size(items: int):
        if size is not None:
            return size
        mm = max(64, int(-items * math.log(fp_rate) / (math.log(2) ** 2)))
        mm = (mm + 63) // 64 * 64
        return mm, max(1, round(mm / items * math.log(2)))

    small_collect_threshold = 200_000  # 8-byte hashes -> <2 MB driver pull
    if expected_items is None or expected_items <= small_collect_threshold:
        # one-job small path: the limited distinct-collect IS the
        # cardinality probe (limit prunes early on big sets)
        probe = grams.dropDuplicates(["h"]).limit(small_collect_threshold + 1).collect()
        if len(probe) <= small_collect_threshold:
            items = max(1, len(probe))
            m, k = _size(items)
            proto = NgramBloom(None, m, k, items)
            bits = np.zeros(m // 8, dtype=np.uint8)
            if probe:
                hashes = np.fromiter((r["h"] for r in probe), dtype=np.int64)
                for pos in proto._positions(hashes):
                    np.bitwise_or.at(
                        bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8)
                    )
            return NgramBloom(bits, m, k, items)
        expected_items = None  # too big for the fast path after all

    if expected_items is None:
        if size is not None:
            # (m, k) are pinned: a cardinality estimate would be computed
            # and then ignored by _size — skip the count pass entirely.
            expected_items = 0
        else:
            expected_items = grams.select(F.approx_count_distinct("h")).first()[0] or 1
    m, k = _size(expected_items)

    nbytes = m // 8
    proto = NgramBloom(None, m, k, expected_items)

    def _partition_bitmap(batches):
        import pandas as pd

        bits = np.zeros(nbytes, dtype=np.uint8)
        for pdf in batches:
            h = pdf["h"].to_numpy(dtype=np.int64)
            for pos in proto._positions(h):
                np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    rows = grams.mapInPandas(_partition_bitmap, "bitmap binary").collect()
    bits = np.zeros(nbytes, dtype=np.uint8)
    for r in rows:
        bits |= np.frombuffer(r["bitmap"], dtype=np.uint8)
    return NgramBloom(bits, m, k, expected_items)


def bloom_decontaminate(
    docs: DataFrame,
    bloom: NgramBloom,
    *,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_hits: int = 1,
    hashed="xxhash64",
) -> DataFrame:
    """Decontamination with ZERO joins and ZERO corpus shuffle: the bloom
    filter (m/8 bytes, e.g. ~1.8 MB per million eval grams at fp 1e-3)
    ships to every task once; each doc's distinct gram hashes are generated
    scan-side and tested in an Arrow-batched pandas UDF. One narrow pass
    over the corpus — at 100 TB this beats the equi-join path
    (:func:`decontaminate_ngrams`) whenever the eval gram set is too big to
    broadcast-hash-join comfortably but fits a bloom (it always does).

    Guarantees: flags are a SUPERSET of the exact path's (no false
    negatives); false positives occur at ~fp_rate per gram — use
    ``min_hits > 1`` to suppress them, or re-check flagged docs (a tiny
    subset) with the exact join. Returns docs + ``contam_hits`` (bloom-hit
    gram count) + ``contaminated``; column contract matches
    :func:`decontaminate_ngrams` so the two are drop-in interchangeable.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    bits, m, k = bloom.bits, bloom.m, bloom.k
    frozen = NgramBloom(bits, m, k, bloom.n)

    @pandas_udf("int")
    def _hits(grams: pd.Series) -> pd.Series:
        # flatten the whole Arrow batch into ONE membership call + a
        # reduceat-style segment sum — the per-row loop (one k-probe numpy
        # call per doc) measured ~4x slower at sf0.1
        arrs = [
            np.asarray(a, dtype=np.int64)
            if a is not None and len(a)
            else np.empty(0, dtype=np.int64)
            for a in grams
        ]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
        if lens.sum() == 0:
            return pd.Series(np.zeros(len(arrs), dtype=np.int32))
        hits = frozen.might_contain(np.concatenate(arrs)).astype(np.int32)
        csum = np.concatenate(([0], np.cumsum(hits)))
        ends = np.cumsum(lens)
        return pd.Series((csum[ends] - csum[ends - lens]).astype(np.int32))

    hashed = "md5" if hashed == "md5" else True
    out = docs.withColumn(
        "contam_hits",
        # bound=False: the gram array is a Python-UDF argument — see the
        # _word_ngrams docstring for the ExtractPythonUDFs failure mode
        F.coalesce(
            _hits(_word_ngrams(F.col(text_col), n, hashed=hashed, bound=False)),
            F.lit(0),
        ),
    )
    return out.withColumn("contaminated", F.col("contam_hits") >= min_hits)


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition: for each doc, the total word count, the
    distinct word count, and the frequency of the most repeated word.
    ``top_word_ratio`` near 1.0 ⇒ degenerate/boilerplate text (the
    C4/Gopher-style repetition signal).

    Shape: explode to (doc, word) → count per pair (combiner-reduced) →
    one agg per doc. Shuffle rows are distinct (doc, word) pairs, not raw
    tokens. Empty/whitespace-only docs still get a row (all-zero counts,
    NULL ratio) — explode would silently omit them and an inner join on the
    stats would lose the doc.
    """
    words = docs.select(
        F.col(id_col),
        F.explode(_words(F.col(text_col))).alias("word"),
    )
    per_word = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("cnt"))
    stats = per_word.groupBy(id_col).agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.max("cnt").alias("top_word_count"),
        round_half_up(F.max("cnt") / F.sum("cnt"), 4).alias("top_word_ratio"),
    )
    return (
        docs.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_distinct_words", F.lit(0)).alias("n_distinct_words"),
            F.coalesce("top_word_count", F.lit(0)).alias("top_word_count"),
            F.col("top_word_ratio"),
        )
    )


def vocabulary(
    docs: DataFrame, text_col: str = "text", top_n: int = 1000
) -> DataFrame:
    """Corpus vocabulary: the ``top_n`` most frequent lowercase words with
    counts and 1-based rank (count desc, word asc tiebreak — deterministic).

    Shape: explode → groupBy(word) with map-side combine (shuffle rows =
    distinct words per partition, not tokens), then ``orderBy().limit()``
    — Spark's distributed TakeOrdered, each partition keeps its own top_n
    and only those merge — never a single-partition sort of the whole
    vocabulary. Ranks are assigned over the top_n survivors (tiny) and are
    deterministic because (n desc, word asc) is a total order.
    """
    from pyspark.sql.window import Window

    words = docs.select(F.explode(_words(F.col(text_col))).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("word")).limit(top_n)
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    return top.withColumn("rank", F.row_number().over(w)).select("word", "n", "rank")


def quantile_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str | None = None,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    bucket_col: str = "bucket",
    labels: list[str] | None = None,
) -> DataFrame:
    """Per-group equal-count quality buckets (the CCNet head/middle/tail
    split: rank docs by score WITHIN each language/source group, cut into
    ``n_buckets`` equal-count bands).

    ``ntile`` over (score, id) — the id tiebreak makes the cut deterministic
    on any layout and lets any other engine reproduce it bit-for-bit.
    Bucket 1 is the LOWEST scores; pass ``labels`` (low→high, e.g.
    ``["tail", "middle", "head"]``) to emit names instead of numbers.

    Scale: the grouped path is one shuffle on ``group_col`` + a window pass.
    Skewed groups (one dominant language) sort within one task chain — for
    extreme skew pre-split the group and merge bucket ids.

    The UNGROUPED path deliberately avoids Spark's unpartitioned
    ``Window.orderBy`` (which funnels the whole dataset through ONE task,
    ADVICE r2): it range-partitions on (score, id), ranks locally within
    each range partition, and adds broadcast per-partition offsets — a
    distributed global rank with identical ntile output. The only
    non-parallel piece is a running-sum window over the per-partition
    COUNTS (#shuffle-partitions rows, metadata-sized).
    """
    from pyspark.sql.window import Window

    order = [F.col(score_col).asc(), F.col(id_col).asc()]
    if labels is not None and len(labels) != n_buckets:
        raise ValueError(f"need {n_buckets} labels, got {len(labels)}")

    def label(tile):
        if labels is None:
            return tile
        return F.element_at(F.array(*[F.lit(s) for s in labels]), tile.cast("int"))

    if group_col:
        w = Window.partitionBy(group_col).orderBy(*order)
        return df.withColumn(bucket_col, label(F.ntile(n_buckets).over(w)))

    part = df.repartitionByRange(*order).withColumn(
        "__pid", F.spark_partition_id()
    )
    local = F.row_number().over(Window.partitionBy("__pid").orderBy(*order))
    part = part.withColumn("__local", local)
    sizes = part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    wp = Window.orderBy("__pid")  # #partitions rows — single task by design
    sizes = sizes.select(
        "__pid",
        F.coalesce(
            F.sum("__n").over(wp.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__off"),
        F.sum("__n").over(
            wp.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("__N"),
    )
    joined = part.join(F.broadcast(sizes), "__pid")
    rank = (F.col("__local") + F.col("__off")).cast("long")
    n, b = F.col("__N").cast("long"), F.lit(n_buckets).cast("long")
    q, r0 = (n / b).cast("long"), n % b
    # SQL-standard ntile: the first N%b buckets hold ceil(N/b) rows
    big_span = r0 * (q + 1)
    tile = F.when(rank <= big_span, F.ceil(rank / (q + 1))).otherwise(
        r0 + F.ceil((rank - big_span) / F.greatest(q, F.lit(1)))
    )
    return joined.withColumn(bucket_col, label(tile)).drop(
        "__pid", "__local", "__off", "__N"
    )


def _hex_prefix_threshold(p: float, k: int = 4) -> str:
    """Hex string t of length k such that P[substr(md5,1,k) < t] == p
    (granularity 16^-k)."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"keep probability out of range: {p}")
    return format(min(int(p * 16**k), 16**k - 1), f"0{k}x") if p < 1.0 else "g" * k


def weighted_mixture(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    default_weight: float = 0.0,
) -> DataFrame:
    """Deterministic mixture weighting: keep each row with its source's
    probability, decided by comparing an md5 hex prefix of (id, seed)
    against the per-source threshold. A pure function of the data — the
    same mixture on any cluster layout or retry, and the thresholds are
    plain string compares any engine reproduces bit-for-bit.
    """
    from gohangout_spark.functions.sampling import hash_key

    h = F.substring(hash_key(id_col, seed), 1, 4)
    thr = F.lit(_hex_prefix_threshold(default_weight))
    for src, p in sorted(weights.items()):
        thr = F.when(F.col(source_col) == src, F.lit(_hex_prefix_threshold(p))).otherwise(thr)
    return df.where(h < thr)


# ----------------------------------------------------------------- URL ops

_URL_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#:]+)(?::([0-9]+))?([^?#]*)\??([^#]*)#?(.*)$"

_TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|ref)="

def url_parts(df: DataFrame, url_col: str = "url", prefix: str = "") -> DataFrame:
    """Decompose a URL column into (scheme, host, port, path, query,
    fragment, registrable_domain) — all scan-side regexp/HOF codegen, no
    UDF: the web-corpus curation primitive behind per-domain caps, domain
    mixture weighting, and URL dedup.

    registrable_domain runs the full Public Suffix List algorithm
    (functions/psl.py — longest match, wildcards, exceptions, private
    section) over the vendored snapshot; NULL when the host is itself a
    public suffix. The rule sets compile to InSet predicates inside
    whole-stage codegen, so this stays a zero-shuffle scan-side
    projection at corpus scale.
    """
    from gohangout_spark.functions.psl import registrable_domain

    u = F.col(url_col)
    part = lambda i: F.regexp_extract(u, _URL_RE, i)
    host = F.lower(part(2))
    domain = registrable_domain(host)
    p = prefix
    return df.withColumns(
        {
            f"{p}scheme": F.lower(part(1)),
            f"{p}host": host,
            f"{p}port": F.nullif(part(3), F.lit("")).cast("int"),
            f"{p}path": part(4),
            f"{p}query": part(5),
            f"{p}fragment": part(6),
            f"{p}registrable_domain": domain,
        }
    )


def normalize_url(url_col) -> "F.Column":
    """Canonical URL Column: lowercase scheme+host, default ports stripped
    (http:80 / https:443), fragment dropped, tracking params removed
    (utm_*, gclid, fbclid, msclkid, ref), remaining query params SORTED so
    parameter order never splits a dedup group. Pure codegen (regexp +
    array HOFs) — usable as the key of exact_dedup for URL-level dedup of
    a crawl at full scale."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    part = lambda i: F.regexp_extract(u, _URL_RE, i)
    scheme = F.lower(part(1))
    host = F.lower(part(2))
    port = part(3)
    path = part(4)
    query = part(5)
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    kept = F.array_sort(
        F.filter(
            F.split(query, r"&"),
            lambda kv: (kv != "") & ~kv.rlike(_TRACKING_PARAM_RE),
        )
    )
    qs = F.concat_ws("&", kept)
    q_part = F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs))
    path_part = F.when(path == "", F.lit("/")).otherwise(path)
    return F.concat(scheme, F.lit("://"), host, port_part, path_part, q_part)


# ------------------------------------------------------- Gopher-style rules

def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
) -> DataFrame:
    """Gopher-style quality heuristics (Rae et al. 2021, arXiv:2112.11446
    §A.1.1, the rule set most open-data pipelines reuse): per-document
    boolean verdicts for each rule plus the conjunction ``gopher_keep``.
    Thresholds default to the published values; every rule is a separate
    column so pipelines can tune/inspect rules independently (the usual
    operating mode — e.g. RefinedWeb relaxes the bullet rule).

    Rules (all pure codegen — split/filter/aggregate HOFs, zero UDF,
    zero shuffle; the verdict is a scan-side projection even at 100 TB):

    - word count within [min_words, max_words]
    - mean word length within [min_mean_word_len, max_mean_word_len]
    - symbol-to-word ratio (# or ...) ≤ max_symbol_word_ratio
    - lines starting with a bullet ≤ max_bullet_line_ratio of lines
    - lines ending with an ellipsis ≤ max_ellipsis_line_ratio of lines
    - words containing ≥1 alphabetic char ≥ min_alpha_word_ratio of words

    NULL/empty text fails the word-count rule (and so gopher_keep) with
    FALSE, never NULL — a three-valued verdict would silently drop rows
    from both keep- and reject-side filters.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    n_words_d = n_words.cast("double")
    total_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_wl = total_chars / n_words_d
    n_hash = F.size(F.split(text, r"#")) - 1
    n_ellipsis = F.size(F.split(text, r"\.\.\.", -1)) - 1
    lines = F.filter(
        F.transform(F.split(text, r"\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    n_lines = F.size(lines).cast("double")
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^([\*•‣◦-]\s|-\s)"))
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))

    word_count_ok = (n_words >= min_words) & (n_words <= max_words)
    mean_wl_ok = F.when(
        n_words > 0,
        (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len),
    ).otherwise(F.lit(False))
    symbol_ok = F.when(
        n_words > 0, (n_hash + n_ellipsis) / n_words_d <= max_symbol_word_ratio
    ).otherwise(F.lit(False))
    bullet_ok = F.when(
        n_lines > 0, bullet_lines / n_lines <= max_bullet_line_ratio
    ).otherwise(F.lit(True))
    ellipsis_ok = F.when(
        n_lines > 0, ellipsis_lines / n_lines <= max_ellipsis_line_ratio
    ).otherwise(F.lit(True))
    alpha_ok = F.when(
        n_words > 0, alpha_words / n_words_d >= min_alpha_word_ratio
    ).otherwise(F.lit(False))

    return docs.withColumns(
        {
            "rule_word_count": word_count_ok,
            "rule_mean_word_len": mean_wl_ok,
            "rule_symbol_ratio": symbol_ok,
            "rule_bullet_lines": bullet_ok,
            "rule_ellipsis_lines": ellipsis_ok,
            "rule_alpha_words": alpha_ok,
            "gopher_keep": word_count_ok
            & mean_wl_ok
            & symbol_ok
            & bullet_ok
            & ellipsis_ok
            & alpha_ok,
        }
    )


def word_ngrams_all(col: Column, n: int) -> Column:
    """ALL word n-grams (duplicates preserved — repetition signals need
    occurrence counts; :func:`_word_ngrams` distincts for join keys).
    Token array bound once per row — see the note in :func:`_word_ngrams`."""
    ws = _words(col)

    def _grams(w):
        gram = lambda i: F.concat_ws(" ", F.slice(w, i, n))  # noqa: E731
        return F.when(
            F.size(w) >= n,
            F.transform(F.sequence(F.lit(1), F.size(w) - (n - 1)), gram),
        ).otherwise(F.array().cast("array<string>"))

    return F.transform(F.array(ws), _grams)[0]


def ngram_repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 10),
) -> DataFrame:
    """Gopher's n-gram repetition signals (arXiv:2112.11446 A.1.1), the
    word-level repetition filters beyond :func:`repetition_stats`' top-word:

    - ``top_{n}gram_char_frac``: characters of the most frequent word
      n-gram (count × gram length) over the doc's normalized char count —
      high ⇒ one phrase dominates the doc.
    - ``dup_{n}gram_char_frac``: characters covered by ALL n-grams
      occurring ≥2 times, counted once per occurrence and clamped at 1.0.
      NOTE this is the standard occurrence-sum APPROXIMATION of Gopher's
      interval-union coverage (overlapping duplicate grams double-count
      before the clamp); exact union coverage needs per-position interval
      merging, which no engine's relational layer expresses cheaply — the
      approximation orders documents near-identically in practice.

    Normalized chars = single-space-joined lowercase words (so the
    denominator is tokenizer-consistent across engines). Docs shorter than
    n words score 0.0 for that n; one output row per input doc.

    Scale: one explode + combiner-reduced count shuffle PER n — O(words)
    rows each, never pairs. Pick the n set deliberately; each extra n is a
    corpus pass.
    """
    norm_chars = F.length(F.concat_ws(" ", _words(F.col(text_col)))).cast("double")
    base = docs.select(
        F.col(id_col).alias("__id"), F.col(text_col), norm_chars.alias("__chars")
    )
    out = base.select("__id", "__chars")
    for n in sorted(set(top_ns) | set(dup_ns)):
        grams = base.select(
            "__id",
            "__chars",
            F.explode(word_ngrams_all(F.col(text_col), n)).alias("g"),
        )
        counts = grams.groupBy("__id", "__chars", "g").agg(
            F.count(F.lit(1)).alias("c")
        )
        aggs = []
        if n in top_ns:
            top = F.max(F.struct(F.col("c"), F.length("g").alias("l")))
            aggs.append(
                round_half_up(
                    top.getField("c") * top.getField("l") / F.col("__chars"), 4
                ).alias(f"top_{n}gram_char_frac")
            )
        if n in dup_ns:
            dup_chars = F.sum(
                F.when(F.col("c") >= 2, F.col("c") * F.length("g")).otherwise(0)
            )
            aggs.append(
                round_half_up(
                    F.least(dup_chars / F.col("__chars"), F.lit(1.0)), 4
                ).alias(f"dup_{n}gram_char_frac")
            )
        per_n = counts.groupBy("__id", "__chars").agg(*aggs).drop("__chars")
        out = out.join(per_n, "__id", "left")
    zero_cols = [f"top_{n}gram_char_frac" for n in top_ns] + [
        f"dup_{n}gram_char_frac" for n in dup_ns
    ]
    return out.select(
        F.col("__id").alias(id_col),
        *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in sorted(zero_cols)],
    )


# ------------------------------------------------------------- boilerplate

BOILERPLATE_MARKERS = [
    "javascript",
    "all rights reserved",
    "cookie",
    "terms of use",
    "privacy policy",
]


def remove_boilerplate_lines(
    docs: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "text_clean",
    min_words: int = 3,
    require_terminal_punct: bool = False,
    markers: list[str] | None = None,
    max_caps_ratio: float = 0.8,
) -> DataFrame:
    """C4/RefinedWeb-style line-wise boilerplate removal, entirely
    scan-side (split → per-line HOF predicates → rejoin; no shuffle, no
    Python — the per-line regexes run on the lambda variable, so nothing
    re-evaluates per element).

    A trimmed line is KEPT iff it has ≥ ``min_words`` whitespace words,
    (optionally) ends in terminal punctuation [.!?"], is not
    shouting-case (uppercase/letters > ``max_caps_ratio`` — nav menus,
    headers), and contains no ``markers`` substring (case-insensitive —
    C4's "javascript" rule generalized). Returns docs + ``n_lines``
    (non-empty lines) + ``n_kept`` + ``out_col`` (kept lines joined by
    newline; '' when nothing survives).
    """
    mks = markers if markers is not None else BOILERPLATE_MARKERS

    def keep(line):
        words = F.size(F.filter(F.split(line, r"\s+"), lambda w: w != ""))
        cond = words >= min_words
        if require_terminal_punct:
            cond = cond & line.rlike(r'[.!?"]$')
        letters = F.length(F.regexp_replace(line, "[^A-Za-z]", ""))
        uppers = F.length(F.regexp_replace(line, "[^A-Z]", ""))
        not_shouting = (letters == 0) | (
            uppers.cast("double") / letters.cast("double") <= max_caps_ratio
        )
        cond = cond & not_shouting
        low = F.lower(line)
        for m in mks:
            cond = cond & ~low.contains(m.lower())
        return cond

    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    kept = F.filter(lines, keep)
    return (
        docs.withColumn("n_lines", F.size(lines))
        .withColumn("n_kept", F.size(kept))
        .withColumn(out_col, F.concat_ws("\n", kept))
    )


def lexical_diversity(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Type-token ratio + hapax-legomena stats per doc: (id, n_tokens,
    n_types, ttr, n_hapax, hapax_ratio). Low TTR ⇒ repetitive/templated
    text; a high hapax ratio on a LONG doc ⇒ word-soup — the two
    lexical-diversity signals next to :func:`repetition_stats`' top-word
    concentration.

    Same scale shape as repetition_stats (deliberately — explode to
    (doc, word), combiner-reduced count per pair, one agg per doc): the
    shuffle carries distinct (doc, word) pairs, never raw tokens, and no
    compound interpreted HOF lambda runs per token (docs/SCALE.md #2).
    Empty docs keep their row with zero counts and NULL ratios.
    """
    words = docs.select(
        F.col(id_col), F.explode(_words(F.col(text_col))).alias("word")
    )
    per_word = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("cnt"))
    ratio = lambda a, b: F.when(b > 0, round_half_up(a.cast("double") / b, 4))
    stats = per_word.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("cnt") == 1).cast("long")).alias("n_hapax"),
    )
    return (
        docs.select(id_col)
        .join(stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).alias("n_types"),
            ratio(F.col("n_types"), F.col("n_tokens")).alias("ttr"),
            F.coalesce("n_hapax", F.lit(0)).alias("n_hapax"),
            ratio(F.col("n_hapax"), F.col("n_tokens")).alias("hapax_ratio"),
        )
    )
