"""Property-based tests (hypothesis) — beyond the reference's test pyramid:
randomized truth-table equivalence for the condition DSL and date-layout
round-trips. Spark evaluation is batched per case-list to keep runtime sane.
"""

import datetime

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from gohangout_spark.expr.conditions import compile_condition
from gohangout_spark.expr.dateformat import go_layout_to_java

# --------------------------------------------------------------- conditions

# leaf pool evaluated against a fixed row universe
LEAVES = {
    'EQ(kind,"a")': lambda r: r["kind"] == "a",
    'EQ(n,1)': lambda r: r["n"] == 1,
    "Exist(maybe)": lambda r: r["maybe"] is not None,
    'HasPrefix(s,"ab")': lambda r: r["s"].startswith("ab"),
    'Contains(s,"x")': lambda r: "x" in r["s"],
}

ROWS = [
    {"kind": k, "n": n, "maybe": m, "s": s}
    for k in ("a", "b")
    for n in (1, 2)
    for m in (None, "v")
    for s in ("abxy", "qq")
]


@st.composite
def bool_tree(draw, depth=0):
    if depth > 2 or draw(st.booleans()):
        leaf = draw(st.sampled_from(sorted(LEAVES)))
        return leaf, LEAVES[leaf]
    op = draw(st.sampled_from(["&&", "||", "!"]))
    if op == "!":
        s, f = draw(bool_tree(depth + 1))
        return f"!({s})", lambda r, f=f: not f(r)
    ls, lf = draw(bool_tree(depth + 1))
    rs, rf = draw(bool_tree(depth + 1))
    if op == "&&":
        return f"({ls}) && ({rs})", lambda r: lf(r) and rf(r)
    return f"({ls}) || ({rs})", lambda r: lf(r) or rf(r)


class TestConditionDSLProperties:
    @pytest.fixture(scope="class")
    def df(self, spark):
        return spark.createDataFrame([Row(**r, rid=i) for i, r in enumerate(ROWS)])

    @settings(max_examples=30, deadline=None)
    @given(trees=st.lists(bool_tree(), min_size=1, max_size=4))
    def test_matches_python_semantics(self, spark, df, trees):
        # evaluate every tree as one select (one Spark job per example set)
        cols = [
            compile_condition(s, df).alias(f"c{i}") for i, (s, _) in enumerate(trees)
        ]
        got = {r["rid"]: r for r in df.select("rid", *cols).collect()}
        for i, (s, f) in enumerate(trees):
            for rid, row in enumerate(ROWS):
                assert bool(got[rid][f"c{i}"]) == f(row), (s, row)


# -------------------------------------------------------------- date layouts

LAYOUTS = [
    "2006-01-02 15:04:05",
    "2006/01/02T15:04:05",
    "02 Jan 2006 15:04:05",
    "2006-01-02",
    "15:04:05 2006-01-02",
]


class TestDateLayoutProperties:
    @settings(max_examples=20, deadline=None)
    @given(
        dts=st.lists(
            st.datetimes(
                min_value=datetime.datetime(1980, 1, 1),
                max_value=datetime.datetime(2100, 1, 1),
            ).map(lambda d: d.replace(microsecond=0)),
            min_size=1,
            max_size=5,
        ),
        layout=st.sampled_from(LAYOUTS),
    )
    def test_format_parse_roundtrip(self, spark, dts, layout):
        """Formatting with the translated Java pattern then parsing it back
        recovers the instant (second precision, date-only truncates)."""
        java = go_layout_to_java(layout)
        df = spark.createDataFrame([(d,) for d in dts], "t timestamp")
        out = df.select(
            "t",
            F.try_to_timestamp(F.date_format("t", java), F.lit(java)).alias("rt"),
        ).collect()
        for r in out:
            expect = r["t"]
            if "15" not in layout:  # date-only layout truncates to midnight
                expect = expect.replace(hour=0, minute=0, second=0)
            assert r["rt"] == expect, (layout, java, r["t"])


class TestCurationProperties:
    @settings(max_examples=8, deadline=None)
    @given(
        words=st.lists(
            st.sampled_from([f"w{i}" for i in range(12)]), min_size=8, max_size=40
        ),
        extra=st.lists(
            st.sampled_from([f"z{i}" for i in range(12)]), min_size=8, max_size=40
        ),
    )
    def test_chunk_dedup_invariants(self, spark, words, extra):
        """Identical docs always score dup_chunk_ratio 1.0; a doc over a
        disjoint vocabulary scores 0; counts never exceed totals — for ANY
        word sequence, i.e. regardless of where the content-defined
        boundaries fall."""
        from gohangout_spark.functions.dedup import chunk_dedup_stats

        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=" ".join(words)),
                Row(doc_id=2, text=" ".join(words)),
                Row(doc_id=3, text=" ".join(extra)),
            ]
        )
        out = {r["doc_id"]: r for r in chunk_dedup_stats(df).collect()}
        assert out[1]["dup_chunk_ratio"] == 1.0 == out[2]["dup_chunk_ratio"]
        assert out[3]["n_shared"] == 0
        for r in out.values():
            assert 0 < r["n_chunks"] and 0 <= r["n_shared"] <= r["n_chunks"]

    @settings(max_examples=10, deadline=None)
    @given(
        p_lo=st.floats(min_value=0.05, max_value=0.45),
        p_hi=st.floats(min_value=0.55, max_value=0.95),
        seed=st.integers(min_value=0, max_value=100),
    )
    def test_mixture_monotone_in_weight(self, spark, p_lo, p_hi, seed):
        """Raising a source's keep-probability only ADDS rows (the hex-prefix
        draw nests: hash < t_lo implies hash < t_hi) — reweighting a mixture
        never churns the already-kept subset."""
        from gohangout_spark.functions.curation import weighted_mixture

        df = spark.createDataFrame([Row(doc_id=i, source="s") for i in range(400)])
        lo = {r["doc_id"] for r in weighted_mixture(df, {"s": p_lo}, seed=seed).collect()}
        hi = {r["doc_id"] for r in weighted_mixture(df, {"s": p_hi}, seed=seed).collect()}
        assert lo <= hi

    @settings(max_examples=10, deadline=None)
    @given(
        texts=st.lists(
            st.text(
                alphabet=st.characters(whitelist_categories=("Ll", "Nd"), whitelist_characters=" .@+-"),
                max_size=60,
            ),
            min_size=1,
            max_size=8,
        )
    )
    def test_redact_idempotent(self, spark, texts):
        """Redacting already-redacted text is a no-op (placeholders never
        re-match any PII pattern)."""
        from gohangout_spark.functions.curation import redact_pii

        df = spark.createDataFrame([(t,) for t in texts], "s string")
        once = df.select(redact_pii(F.col("s")).alias("c"))
        twice = once.select(redact_pii(F.col("c")).alias("c"))
        assert [r["c"] for r in once.collect()] == [r["c"] for r in twice.collect()]

    @settings(max_examples=10, deadline=None)
    @given(
        n_small=st.integers(min_value=1, max_value=4),
        n_big=st.integers(min_value=5, max_value=12),
    )
    def test_cap_nests(self, spark, n_small, n_big):
        """cap(n_small) ⊆ cap(n_big), and capping at n_big then n_small
        equals capping at n_small directly (prefix property of the ranked
        order)."""
        from gohangout_spark.functions.sampling import cap_per_group

        df = spark.createDataFrame(
            [Row(doc_id=i, source=f"s{i % 3}") for i in range(60)]
        )
        small = {r["doc_id"] for r in cap_per_group(df, "source", "doc_id", n_small).collect()}
        big_df = cap_per_group(df, "source", "doc_id", n_big)
        big = {r["doc_id"] for r in big_df.collect()}
        nested = {
            r["doc_id"]
            for r in cap_per_group(big_df, "source", "doc_id", n_small).collect()
        }
        assert small <= big and nested == small


# --------------------------------------------------------------- asof join

class TestAsofJoinProperties:
    @given(
        left=st.lists(
            st.tuples(st.sampled_from("ab"), st.integers(0, 20)),
            min_size=1, max_size=8,
        ),
        right=st.lists(
            st.tuples(st.sampled_from("ab"), st.integers(0, 20)),
            min_size=0, max_size=8, unique=True,  # unique (key, ts): no ties
        ),
        direction=st.sampled_from(["backward", "forward"]),
    )
    @settings(max_examples=12, deadline=None)
    def test_matches_brute_force(self, spark, left, right, direction):
        """asof_join (union + window propagation) ≡ the O(n·m) definitional
        scan, on arbitrary small inputs, both directions."""
        import datetime

        from gohangout_spark.functions.joins import asof_join

        t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)
        ldf = spark.createDataFrame(
            [Row(k=k, ts=t(s), lid=i) for i, (k, s) in enumerate(left)]
        )
        rdf = spark.createDataFrame(
            [Row(k=k, ts=t(s), rid=100 + i) for i, (k, s) in enumerate(right)],
            schema="k string, ts timestamp, rid long",
        )
        got = {
            r["lid"]: r["rid"]
            for r in asof_join(ldf, rdf, "k", direction=direction).collect()
        }

        def brute(k, s):
            if direction == "backward":
                cands = [(rs, i) for i, (rk, rs) in enumerate(right) if rk == k and rs <= s]
                return 100 + max(cands)[1] if cands else None
            cands = [(rs, i) for i, (rk, rs) in enumerate(right) if rk == k and rs >= s]
            return 100 + min(cands)[1] if cands else None

        expect = {i: brute(k, s) for i, (k, s) in enumerate(left)}
        assert got == expect


# --------------------------------------------------------------- range join

class TestRangeJoinProperties:
    @given(
        points=st.lists(
            st.tuples(st.sampled_from("ab"), st.integers(0, 40)),
            min_size=1, max_size=8,
        ),
        ivals=st.lists(
            st.tuples(st.sampled_from("ab"), st.integers(0, 40), st.integers(0, 40)),
            min_size=0, max_size=5,
        ),
        bucket=st.sampled_from([1, 7, 13, 100]),
    )
    @settings(max_examples=10, deadline=None)
    def test_matches_brute_force(self, spark, points, ivals, bucket):
        """range_join (bucket-exploded equi-join) ≡ the definitional
        half-open theta scan for any bucket width, including degenerate
        (end < start) and empty intervals."""
        import datetime

        from gohangout_spark.functions.joins import range_join

        t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, 0) + datetime.timedelta(seconds=s)
        pdf = spark.createDataFrame(
            [Row(k=k, ts=t(s), pid=i) for i, (k, s) in enumerate(points)]
        )
        idf = spark.createDataFrame(
            [Row(k=k, start=t(a), end=t(b), iid=100 + i)
             for i, (k, a, b) in enumerate(ivals)],
            schema="k string, start timestamp, end timestamp, iid long",
        )
        got = sorted(
            (r["pid"], r["iid"])
            for r in range_join(
                pdf, idf, "k", "ts", "start", "end", bucket_seconds=bucket
            ).collect()
        )
        expect = sorted(
            (i, 100 + j)
            for i, (pk, ps) in enumerate(points)
            for j, (ik, a, b) in enumerate(ivals)
            if pk == ik and a <= ps < b
        )
        assert got == expect


class TestUrlProperties:
    URL_CHARS = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyzABC0123456789-._~", min_size=1, max_size=8
    )

    @settings(max_examples=10, deadline=None)
    @given(
        host=st.lists(URL_CHARS, min_size=1, max_size=4),
        path=st.lists(URL_CHARS, min_size=0, max_size=3),
        params=st.lists(
            st.tuples(URL_CHARS, URL_CHARS), min_size=0, max_size=4
        ),
        scheme=st.sampled_from(["http", "https", "HTTPS"]),
        port=st.sampled_from(["", ":80", ":443", ":8080"]),
        frag=st.sampled_from(["", "#x", "#a/b"]),
    )
    def test_normalize_idempotent(self, spark, host, path, params, scheme, port, frag):
        """normalize_url is a canonicalization: applying it twice equals
        applying it once (the property that makes it a safe dedup key)."""
        from gohangout_spark.functions.curation import normalize_url

        url = (
            scheme + "://" + ".".join(host) + port + "/" + "/".join(path)
            + ("?" + "&".join(f"{k}={v}" for k, v in params) if params else "")
            + frag
        )
        df = spark.createDataFrame([Row(url=url)])
        once = df.select(normalize_url("url").alias("u"))
        twice = once.select(normalize_url("u").alias("u"))
        a, b = once.first()["u"], twice.first()["u"]
        assert a == b, (url, a, b)

    @settings(max_examples=8, deadline=None)
    @given(
        texts=st.lists(
            st.lists(
                st.text(alphabet="abcdef ", min_size=1, max_size=20),
                min_size=0,
                max_size=5,
            ),
            min_size=1,
            max_size=6,
        )
    )
    def test_dedup_paragraphs_invariants(self, spark, texts):
        """After the corpus-first rewrite: no paragraph appears twice
        ANYWHERE in the corpus, every doc keeps a row, and re-running the
        rewrite is a no-op (idempotence)."""
        from gohangout_spark.functions.dedup import dedup_paragraphs

        rows = [Row(doc_id=i, text="\n".join(t)) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = dedup_paragraphs(df)
        got = {r["doc_id"]: r["text"] for r in out.collect()}
        assert set(got) == set(range(len(texts)))
        all_paras = [
            p for t in got.values() for p in t.split("\n") if p.strip() != ""
        ]
        assert len(all_paras) == len(set(all_paras))
        again = {
            r["doc_id"]: r["text"] for r in dedup_paragraphs(out).collect()
        }
        assert again == got

    @settings(max_examples=8, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=40),
        b=st.integers(min_value=1, max_value=6),
    )
    def test_ungrouped_quantile_bucket_balance(self, spark, n, b):
        """Distributed global ntile: bucket sizes differ by at most one and
        every row lands in a bucket 1..b."""
        from gohangout_spark.functions.curation import quantile_buckets

        df = spark.createDataFrame(
            [Row(doc_id=i, score=float((i * 13) % 17)) for i in range(n)]
        ).repartition(4)
        out = quantile_buckets(df, score_col="score", n_buckets=b)
        buckets = [r["bucket"] for r in out.collect()]
        assert len(buckets) == n
        assert all(1 <= x <= b for x in buckets)
        from collections import Counter

        sizes = Counter(buckets).values()
        assert max(sizes) - min(sizes) <= 1


class TestRound3Properties:
    """Properties of the round-3 text operators: bloom superset, BM25
    monotonicity, dup-span removal soundness."""

    @given(
        texts=st.lists(
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg"]),
                min_size=4,
                max_size=12,
            ).map(" ".join),
            min_size=2,
            max_size=8,
        ),
        split=st.integers(min_value=1, max_value=3),
    )
    @settings(max_examples=10, deadline=None)
    def test_bloom_never_misses(self, spark, texts, split):
        """Bloom flags are a superset of exact flags on ANY corpus split."""
        from gohangout_spark.functions.curation import (
            bloom_decontaminate,
            build_ngram_bloom,
            decontaminate_ngrams,
        )

        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        ev = docs.where(F.col("doc_id") % (split + 1) == 0)
        corpus = docs.where(F.col("doc_id") % (split + 1) != 0)
        if ev.count() == 0 or corpus.count() == 0:
            return
        bloom = build_ngram_bloom(ev, n=3, fp_rate=1e-3)
        got = {r.doc_id: r.contaminated for r in bloom_decontaminate(corpus, bloom, n=3).collect()}
        exact = {
            r.doc_id: r.contaminated for r in decontaminate_ngrams(corpus, ev, n=3).collect()
        }
        for d, flag in exact.items():
            if flag:
                assert got[d], (d, texts)

    @given(reps=st.integers(min_value=1, max_value=4))
    @settings(max_examples=6, deadline=None)
    def test_bm25_monotone_in_tf(self, spark, reps):
        """More occurrences of the query term -> strictly higher score
        (same doc length padded with neutral words)."""
        from gohangout_spark.functions.search import bm25_topk

        pad = ["pad"] * (6 - reps)
        rows = [
            (1, " ".join(["hit"] * reps + pad)),
            (2, " ".join(["hit"] * (reps + 1) + pad[:-1] if pad else ["hit"] * (reps + 1))),
            (3, "nothing to see here at all now"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.score for r in bm25_topk(docs, "hit", id_col="doc_id", k=3).collect()}
        assert got[2] > got[1] > 0
        assert 3 not in got

    @given(
        words=st.lists(
            st.sampled_from(["u1", "u2", "u3", "u4", "u5", "u6", "u7", "u8"]),
            min_size=6,
            max_size=10,
            unique=True,
        )
    )
    @settings(max_examples=8, deadline=None)
    def test_dup_span_removal_sound(self, spark, words):
        """Planting the same w-window in two docs removes it from both;
        docs of unique words are untouched."""
        from gohangout_spark.functions.dedup import dup_span_stats, remove_dup_spans

        span = "s1 s2 s3"
        uniq = " ".join(words)
        # doc 3's vocabulary is disjoint from docs 1/2 so no window of it
        # can be corpus-duplicated
        alone = " ".join(f"z{w}" for w in words)
        docs = spark.createDataFrame(
            [
                (1, f"{uniq} {span}"),
                (2, f"{span} {' '.join(reversed(words))}"),
                (3, alone),
            ],
            "doc_id long, text string",
        )
        cleaned = {r.doc_id: r.text_clean for r in remove_dup_spans(docs, w=3).collect()}
        for d in (1, 2):
            assert not set(cleaned[d].split()) & {"s1", "s2", "s3"}, (cleaned, words)
        assert cleaned[3] == alone
        stats = {r.doc_id: r for r in dup_span_stats(docs, w=3).collect()}
        assert stats[3].n_dup_windows == 0


class TestRound4Properties:
    """Property pins for the round-4 operators."""

    @settings(max_examples=8, deadline=None)
    @given(
        seqs=st.lists(
            st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=6),
            min_size=1,
            max_size=5,
        )
    )
    def test_transition_rows_normalize(self, spark, seqs):
        """Per-src probabilities sum to 1 (within bp rounding) and pair
        counts total events − users (one lead per user is NULL)."""
        import datetime as dt

        from gohangout_spark.functions.analytics import transition_matrix

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        eid = 0
        for u, types in enumerate(seqs):
            for ty in types:
                rows.append((eid, t0 + dt.timedelta(seconds=eid), u, ty))
                eid += 1
        ev = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )
        out = transition_matrix(ev).collect()
        n_events = sum(len(x) for x in seqs)
        assert sum(r.n for r in out) == n_events - len(seqs)
        by_src = {}
        for r in out:
            by_src.setdefault(r.src, []).append(r.p)
        for src, ps in by_src.items():
            assert abs(sum(ps) - 1.0) < 1e-3 * len(ps), (src, ps)

    @settings(max_examples=6, deadline=None)
    @given(
        prefix=st.lists(st.sampled_from("pqrs"), min_size=0, max_size=6),
        suffix=st.lists(st.sampled_from("tuvw"), min_size=0, max_size=6),
        data=st.data(),
    )
    def test_winnowing_guarantee(self, spark, prefix, suffix, data):
        """Schleimer et al.'s guarantee: two docs sharing a k+w-1-token run
        share at least one selected fingerprint — for ANY surrounding
        context."""
        from gohangout_spark.functions.dedup import winnow_fingerprints

        k = w = 3
        shared = [f"run{i}" for i in range(k + w - 1)]
        other_prefix = data.draw(
            st.lists(st.sampled_from("fghj"), min_size=0, max_size=6)
        )
        docs = spark.createDataFrame(
            [
                (1, " ".join(list(prefix) + shared + list(suffix))),
                (2, " ".join(list(other_prefix) + shared)),
            ],
            "doc_id long, text string",
        )
        fps = {}
        for r in winnow_fingerprints(docs, k=k, w=w).collect():
            fps.setdefault(r.doc_id, set()).add(r.fp)
        assert fps.get(1, set()) & fps.get(2, set()), (prefix, suffix)

    @settings(max_examples=6, deadline=None)
    @given(
        vals=st.lists(
            st.sampled_from(["x", "y", "z", "w"]), min_size=5, max_size=60
        )
    )
    def test_heavy_hitters_matches_groupby(self, spark, vals):
        from pyspark.sql import functions as F

        from gohangout_spark.functions.sketch import heavy_hitters

        df = spark.createDataFrame([(v,) for v in vals], "v string")
        got = [(r.v, r.n) for r in heavy_hitters(df, "v", k=3).collect()]
        want = [
            (r.v, r.n)
            for r in df.groupBy("v")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("v"))
            .limit(3)
            .collect()
        ]
        assert got == want


class TestClusterSplitProperties:
    """Randomized pair graphs: cluster_aware_split must keep every edge's
    endpoints in one split, and keep_best_per_cluster must pick exactly
    the union-find argmax — both compared to a pure-Python model."""

    @staticmethod
    def _components(n_nodes, edges):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for v in range(n_nodes):
            comp.setdefault(find(v), []).append(v)
        return comp

    @settings(max_examples=8, deadline=None)
    @given(
        n_nodes=st.integers(min_value=2, max_value=12),
        raw_edges=st.lists(
            st.tuples(st.integers(0, 11), st.integers(0, 11)),
            min_size=0, max_size=10,
        ),
    )
    def test_split_respects_components(self, spark, n_nodes, raw_edges):
        from gohangout_spark.functions.dedup import cluster_aware_split

        edges = [(a % n_nodes, b % n_nodes) for a, b in raw_edges]
        edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
        docs = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
        pairs = spark.createDataFrame(
            edges or [(0, 0)], "id_a long, id_b long"
        ).where(F.col("id_a") != F.col("id_b"))
        out = {r["doc_id"]: r for r in
               cluster_aware_split(docs, pairs, id_col="doc_id").collect()}
        assert len(out) == n_nodes
        assert all(r["split"] in ("train", "val", "test") for r in out.values())
        for comp in self._components(n_nodes, edges).values():
            splits = {out[v]["split"] for v in comp}
            clusters = {out[v]["cluster_id"] for v in comp}
            assert len(splits) == 1 and clusters == {min(comp)}, (edges, comp)

    @settings(max_examples=8, deadline=None)
    @given(
        n_nodes=st.integers(min_value=2, max_value=12),
        raw_edges=st.lists(
            st.tuples(st.integers(0, 11), st.integers(0, 11)),
            min_size=0, max_size=10,
        ),
        scores=st.lists(st.integers(0, 5), min_size=12, max_size=12),
    )
    def test_best_per_cluster_matches_python_model(
        self, spark, n_nodes, raw_edges, scores
    ):
        from gohangout_spark.functions.dedup import keep_best_per_cluster

        edges = [(a % n_nodes, b % n_nodes) for a, b in raw_edges]
        edges = [(min(a, b), max(a, b)) for a, b in edges if a != b]
        docs = spark.createDataFrame(
            [(i, scores[i]) for i in range(n_nodes)], "doc_id long, score long"
        )
        pairs = spark.createDataFrame(
            edges or [(0, 0)], "id_a long, id_b long"
        ).where(F.col("id_a") != F.col("id_b"))
        got = sorted(
            r["doc_id"]
            for r in keep_best_per_cluster(
                docs, pairs, id_col="doc_id", score_col="score"
            ).collect()
        )
        want = sorted(
            min(comp, key=lambda v: (-scores[v], v))
            for comp in self._components(n_nodes, edges).values()
        )
        assert got == want, (edges, scores)


# ------------------------------------------- dict evaluator vs Column compiler

KEYS = ("a", "b", "c")
TEXT = st.text(alphabet="ab", max_size=3)


@st.composite
def dsl(draw, depth=0):
    """A random DSL string over Exist/EQ/HasPrefix/Contains and && || !."""
    if depth > 2 or draw(st.booleans()):
        key = draw(st.sampled_from(KEYS))
        name = draw(st.sampled_from(["Exist", "EQ", "HasPrefix", "Contains"]))
        return f"Exist({key})" if name == "Exist" else f'{name}({key},"{draw(TEXT)}")'
    op = draw(st.sampled_from(["&&", "||", "!"]))
    if op == "!":
        inner = draw(dsl(depth + 1))
        return f"!{inner}" if "&" not in inner and "|" not in inner else f"!({inner})"
    left, right = draw(dsl(depth + 1)), draw(dsl(depth + 1))
    if draw(st.booleans()):
        left, right = f"({left})", f"({right})"
    return f"{left} {op} {right}"


flat_dicts = st.dictionaries(st.sampled_from(KEYS), TEXT)


class TestDictEvaluatorMatchesColumns:
    """One parser, two folds: ``evaluate_condition`` over a dict and the
    compiled Column over the same event as a one-row frame agree."""

    @settings(max_examples=25, deadline=None)
    @given(conds=st.lists(dsl(), min_size=1, max_size=4),
           dicts=st.lists(flat_dicts, min_size=1, max_size=5))
    def test_differential(self, spark, conds, dicts):
        from gohangout_spark.expr.conditions import evaluate_condition

        df = spark.createDataFrame(
            [(i, *(d.get(k) for k in KEYS)) for i, d in enumerate(dicts)],
            "rid int, " + ", ".join(f"{k} string" for k in KEYS),
        )
        cols = [compile_condition(s, df).alias(f"c{j}") for j, s in enumerate(conds)]
        got = {r["rid"]: r for r in df.select("rid", *cols).collect()}
        for j, s in enumerate(conds):
            for i, d in enumerate(dicts):
                assert bool(got[i][f"c{j}"]) == evaluate_condition(s, d), (s, d)
