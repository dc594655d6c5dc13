"""Tests for the LLM-data-pipeline function modules."""

import pytest
from pyspark.sql import Row, functions as F

from gohangout_spark.functions import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=1, text="the quick brown fox jumps over the lazy cat"),
        Row(doc_id=2, text="completely different content about spark engines"),
        Row(doc_id=3, text="the quick brown fox jumps over the lazy dog"),  # dup of 0
        Row(doc_id=4, text="der hund und die katze und das ist gut"),
    ]
    return spark.createDataFrame(rows)


class TestText:
    def test_tokens_and_count(self, docs):
        out = docs.select("doc_id", text.token_count(F.col("text")).alias("n")).collect()
        got = {r["doc_id"]: r["n"] for r in out}
        assert got[0] == 9 and got[2] == 6

    def test_language_id(self, docs):
        out = docs.select("doc_id", text.language_id(F.col("text")).alias("l")).collect()
        got = {r["doc_id"]: r["l"] for r in out}
        assert got[0] == "en"
        assert got[4] == "de"

    def test_fingerprint_dedups_word_order(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text="alpha beta gamma"), Row(doc_id=1, text="gamma  beta alpha alpha")]
        )
        fps = [r[0] for r in df.select(text.fingerprint(F.col("text"))).collect()]
        assert fps[0] == fps[1]

    def test_quality_score_range(self, docs):
        vals = [r[0] for r in docs.select(text.quality_score(F.col("text"))).collect()]
        assert all(0.0 <= v <= 1.0 for v in vals)

    def test_rolling_hash_fingerprint(self, docs):
        out = docs.select(
            "doc_id", text.rolling_hash_fingerprint(F.col("text"), window=3).alias("fp")
        ).collect()
        got = {r["doc_id"]: r["fp"] for r in out}
        assert got[0] == got[3]  # identical docs -> identical sketch

    def test_strip_control_chars(self, spark):
        df = spark.createDataFrame(
            [Row(s="a\x00b\x07c\tkeep\nme\rok\x7f\x1fend")]
        )
        (got,) = df.select(text.strip_control_chars(F.col("s"))).first()
        assert got == "abc\tkeep\nme\rokend"  # tab/newline/CR survive

    def test_html_to_text(self, spark):
        df = spark.createDataFrame(
            [Row(s='<div class="x">a &amp;&nbsp; b</div>\n<br/>&lt;tag&gt; &#39;q&#39;')]
        )
        (got,) = df.select(text.html_to_text(F.col("s"))).first()
        assert got == "a & b <tag> 'q'"

    def test_html_entities_amp_decoded_last(self, spark):
        # '&amp;lt;' must NOT double-decode into '<'
        df = spark.createDataFrame([Row(s="x &amp;lt; y")])
        (got,) = df.select(text.html_to_text(F.col("s"))).first()
        assert got == "x &lt; y"

    def test_fix_mojibake(self, spark):
        cases = [
            Row(s="cafÃ©"),       # utf-8 é seen as latin-1 -> repair
            Row(s="plain ascii stays"),      # no markers -> untouched
            Row(s="real café stays"),   # é alone: no marker char
            Row(s="Ã alone stays"),     # marker but invalid utf-8 bytes
            Row(s=None),
        ]
        from gohangout_spark.functions import text as t

        df = spark.createDataFrame(cases)
        got = [r[0] for r in df.select(t.fix_mojibake(F.col("s"))).collect()]
        assert got[0] == "café"
        assert got[1] == "plain ascii stays"
        assert got[2] == "real café stays"
        assert got[3] == "Ã alone stays"
        assert got[4] is None

    def test_nfc_normalize_composes(self, spark):
        import unicodedata

        decomposed = "Cafe\u0301 touche\u0301"
        df = spark.createDataFrame([Row(s=decomposed), Row(s=None)])
        rows = df.select(text.nfc_normalize(F.col("s")).alias("n")).collect()
        got = {r["n"] for r in rows}
        assert unicodedata.normalize("NFC", decomposed) in got  # 'Café touché'
        assert None in got
        assert all(len(x) == len(decomposed) - 2 for x in got if x)


class TestDedup:
    def test_exact_groups(self, docs):
        out = dedup.exact_dedup_groups(docs, "text", "doc_id")
        rows = {r["keep_id"]: r["dup_count"] for r in out.collect()}
        assert rows[0] == 2  # doc 0 and 3 identical
        assert out.count() == 4

    def test_exact_dedup_deterministic(self, docs):
        out = dedup.exact_dedup(docs, "text", "doc_id")
        ids = sorted(r["doc_id"] for r in out.collect())
        assert ids == [0, 1, 2, 4]  # keeps min doc_id

    def test_chunk_dedup_stats(self, spark):
        long_a = " ".join(f"w{i}" for i in range(60))
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=long_a),
                Row(doc_id=2, text=long_a),  # full duplicate -> ratio 1.0
                Row(doc_id=3, text=" ".join(f"z{i}" for i in range(60))),
            ]
        )
        out = {r["doc_id"]: r for r in dedup.chunk_dedup_stats(df).collect()}
        assert out[1]["dup_chunk_ratio"] == 1.0 and out[2]["dup_chunk_ratio"] == 1.0
        # disjoint vocabulary shares nothing
        assert out[3]["n_shared"] == 0 and out[3]["dup_chunk_ratio"] == 0.0
        for r in out.values():
            assert 0 < r["n_chunks"] and r["n_shared"] <= r["n_chunks"]
        # partial duplication: doc 4 = first half of doc 1's words + fresh
        # tail -> strictly between 0 and 1 (the signal doc-level hashing
        # misses entirely)
        half = " ".join(f"w{i}" for i in range(30))
        df2 = spark.createDataFrame(
            [
                Row(doc_id=1, text=long_a),
                Row(doc_id=4, text=half + " " + " ".join(f"q{i}" for i in range(30))),
            ]
        )
        out2 = {r["doc_id"]: r for r in dedup.chunk_dedup_stats(df2).collect()}
        assert 0.0 < out2[4]["dup_chunk_ratio"] < 1.0

    def test_chunk_dedup_keeps_empty_docs(self, spark):
        """ADVICE r2: empty/NULL-text docs must not vanish through the
        explode — they come back with zero counts and a NULL ratio."""
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=" ".join(f"w{i}" for i in range(40))),
                Row(doc_id=2, text=""),
                Row(doc_id=3, text=None),
                Row(doc_id=4, text="   "),
            ]
        )
        out = {r["doc_id"]: r for r in dedup.chunk_dedup_stats(df).collect()}
        assert set(out) == {1, 2, 3, 4}
        for d in (2, 3, 4):
            r = out[d]
            assert r["n_chunks"] == 0 and r["n_shared"] == 0
            assert r["dup_chunk_ratio"] is None
        assert out[1]["n_chunks"] > 0

    def test_paragraph_dedup_stats(self, spark):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="shared header\nunique one\n\n  "),
                Row(doc_id=2, text="  shared header \nunique two"),
                Row(doc_id=3, text="all alone"),
                Row(doc_id=4, text=""),
                Row(doc_id=5, text=None),
            ]
        )
        out = {r["doc_id"]: r for r in dedup.paragraph_dedup_stats(df).collect()}
        assert set(out) == {1, 2, 3, 4, 5}
        # trim makes '  shared header ' match 'shared header'
        assert out[1]["n_paras"] == 2 and out[1]["n_shared"] == 1
        assert out[1]["dup_para_ratio"] == 0.5
        assert out[2]["n_shared"] == 1
        assert out[3]["n_shared"] == 0 and out[3]["dup_para_ratio"] == 0.0
        for d in (4, 5):
            assert out[d]["n_paras"] == 0 and out[d]["dup_para_ratio"] is None

    def test_dedup_paragraphs_keeps_first(self, spark):
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="alpha\nbeta"),
                Row(doc_id=2, text="beta\ngamma\nalpha"),
                Row(doc_id=3, text="beta"),
            ]
        )
        out = {r["doc_id"]: r["text"] for r in dedup.dedup_paragraphs(df).collect()}
        # doc 1 owns both its paragraphs (first occurrence corpus-wide)
        assert out[1] == "alpha\nbeta"
        # doc 2 keeps only gamma (beta/alpha first seen in doc 1), order kept
        assert out[2] == "gamma"
        # doc 3 fully deduplicated -> empty text, row still present
        assert out[3] == ""

    def test_minhash_finds_near_dups(self, docs):
        cands = dedup.minhash_lsh_candidates(
            docs, "text", "doc_id", num_hashes=16, bands=8, shingle_n=2
        )
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in cands.collect()}
        assert (0, 3) in pairs and pairs[(0, 3)] == 1.0  # exact dup pair
        near = pairs.get((0, 1))
        assert near is None or near < 1.0

    def test_funnel_v2_lsh_pairs_contain_oracle_pairs(self, spark):
        """curation_funnel_v2's recall-1 claim is probabilistic (ADVICE r7):
        a pair at exactly j=0.5 misses all 32 bands with p≈1e-4. This test
        re-derives both sides at the gate's operating point (64×32, 3-token
        shingles) over the sf0.001 corpus and asserts the LSH-candidate
        pair set CONTAINS the exact all-pairs jaccard≥0.5 set, printing any
        missing pair — so a future band miss fails here with the offending
        (id_a, id_b, jaccard) named instead of as a bare gate hash delta."""
        from gohangout_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        lsh = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_candidates(
                docs, "text", "doc_id", num_hashes=64, bands=32, shingle_n=3
            )
            .filter(F.col("jaccard") >= 0.5)
            .collect()
        }
        # exact all-pairs base via the shingle equi-join (same tokenizer,
        # same partial-shingle floor as the engine)
        sh = docs.select(
            "doc_id", dedup.word_shingles(F.col("text"), 3).alias("sh")
        ).where(F.size("sh") > 0)
        ex = sh.select("doc_id", F.explode("sh").alias("s"))
        sz = sh.select("doc_id", F.size("sh").alias("n"))
        inter = (
            ex.alias("a")
            .join(ex.alias("b"), ["s"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
            )
            .agg(F.count(F.lit(1)).alias("c"))
        )
        exact = {
            (r["id_a"], r["id_b"]): r["j"]
            for r in inter.join(sz.alias("na"), F.col("na.doc_id") == F.col("id_a"))
            .join(sz.alias("nb"), F.col("nb.doc_id") == F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                (
                    F.col("c").cast("double")
                    / (F.col("na.n") + F.col("nb.n") - F.col("c"))
                ).alias("j"),
            )
            .where(F.col("j") >= 0.5)
            .collect()
        }
        missing = {p: j for p, j in exact.items() if p not in lsh}
        assert not missing, (
            f"LSH band miss at the 64x32 operating point: {missing} — "
            "if a pair sits at j≈0.5 this is the documented ~1e-4 band-miss "
            "probability materializing; rotate the fixture or raise bands."
        )

    def test_shingle_oracle_partial_floor_seam(self, spark, tmp_path):
        """ADVICE r7 seam pin: the engine's greatest(len-2, 1) shingle
        floor gives 1-2-token docs ONE partial shingle; the shared oracle
        CTE (_shingle_fp_ctes) must reproduce that floor, not filter the
        docs out. Runs bbit_minwise_jaccard — engine AND DuckDB oracle —
        on a corpus that contains 1-token, 2-token, empty and normal docs
        (including a pair of identical 2-token docs that ONLY match via
        the partial shingle) and requires identical pair sets."""
        import duckdb

        from gohangout_spark import workload

        rows = [
            (0, "alpha beta", "en", "s", 10),
            (1, "alpha beta", "en", "s", 10),  # partial-shingle twin of 0
            (2, "gamma", "en", "s", 5),
            (3, "", "en", "s", 0),
            (4, "the quick brown fox jumps over the dog", "en", "s", 38),
            (5, "the quick brown fox jumps over the cat", "en", "s", 38),
        ]
        sdf = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        sf = str(tmp_path / "sf")
        sdf.coalesce(1).write.parquet(f"{sf}/documents.parquet")

        _, oracle = workload.QUERIES["bbit_minwise_jaccard"]
        eng = workload.bbit_minwise_jaccard(spark, sf).collect()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
        )
        ora = con.execute(oracle).fetchall()
        key = lambda r: (r[0], r[1], round(r[2], 4), r[3], round(r[4], 4))
        assert sorted(key(r) for r in eng) == sorted(key(r) for r in ora)
        # the partial-shingle twins must be IN the pair set on both sides
        assert any(r[0] == 0 and r[1] == 1 for r in eng)

    def test_minhash_lazy_by_default(self, spark, docs):
        """VERDICT/ADVICE r2: building candidates must neither trigger a job
        nor leave persisted frames behind; the lazy plan stays replayable and
        compute-once via exchange reuse."""
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        cands = dedup.minhash_lsh_candidates(
            docs, "text", "doc_id", num_hashes=16, bands=8, shingle_n=2
        )
        # no persisted frames from merely building the plan, and none after
        # executing it (the r2 regression was cache/checkpoint blocks leaking
        # out of the library call)
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
        cands.collect()
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
        # compute-once: the shingle projection sits below one exchange that
        # every consumer reuses (AQE final plan shows ReusedExchange nodes)
        plan = cands._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan

    def test_minhash_incremental_matches_full(self, spark):
        """Incremental dedup (new batch vs persisted index) must surface
        exactly the full-corpus candidate pairs minus the old-vs-old ones,
        with the signature-estimated jaccard at 1.0 for exact dups."""
        mk = lambda i, t: Row(doc_id=i, text=t)
        a = "the quick brown fox jumps over the lazy dog again and again"
        b = "completely different words live in this second document body"
        old = spark.createDataFrame(
            [mk(0, a), mk(1, b), mk(2, "third text with its own unique words")]
        )
        new = spark.createDataFrame(
            [mk(10, a), mk(11, "the quick brown fox jumps over the lazy dog again"),
             mk(12, a)]
        )
        kw = dict(num_hashes=16, bands=8, shingle_n=2)

        idx = dedup.minhash_index(old, "text", "doc_id", **kw)
        inc = dedup.minhash_lsh_candidates_incremental(new, idx, **kw)
        got = {(r["id_a"], r["id_b"]): r for r in inc.collect()}

        full = dedup.minhash_lsh_candidates(
            old.unionByName(new), "text", "doc_id", **kw
        )
        full_pairs = {(r["id_a"], r["id_b"]) for r in full.collect()}
        old_old = {(x, y) for (x, y) in full_pairs if x < 10 and y < 10}
        assert set(got) == full_pairs - old_old
        # exact dup across batches: estimator must say 1.0, flagged historical
        r = got[(0, 10)]
        assert r["est_jaccard"] == 1.0 and r["vs_history"] is True
        # exact dup within the new batch: flagged fresh
        r2 = got[(10, 12)]
        assert r2["est_jaccard"] == 1.0 and r2["vs_history"] is False
        # near (not exact) dup: estimate strictly between 0 and 1
        near = got.get((0, 11)) or got.get((10, 11))
        if near is not None:
            assert 0.0 < near["est_jaccard"] <= 1.0

    def test_minhash_materialize_matches_lazy(self, docs):
        kw = dict(num_hashes=16, bands=8, shingle_n=2)
        lazy = dedup.minhash_lsh_candidates(docs, "text", "doc_id", **kw)
        eager = dedup.minhash_lsh_candidates(
            docs, "text", "doc_id", materialize=True, **kw
        )
        as_set = lambda df: {tuple(r) for r in df.collect()}
        assert as_set(lazy) == as_set(eager)

    def test_ngram_jaccard(self, docs):
        out = dedup.ngram_jaccard_pairs(docs.filter("doc_id <= 3"), "text", "doc_id", n=2)
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        assert pairs[(0, 3)] == 1.0
        assert pairs[(0, 2)] == 0.0
        assert 0.0 < pairs[(0, 1)] < 1.0

    def test_simhash_close_for_near_dups(self, docs):
        out = docs.select("doc_id", dedup.simhash_column(F.col("text")).alias("sh"))
        got = {r["doc_id"]: r["sh"] for r in out.collect()}
        assert got[0] == got[3]
        ham_near = bin(got[0] ^ got[1]).count("1")
        ham_far = bin(got[0] ^ got[2]).count("1")
        assert ham_near < ham_far

    @pytest.fixture(scope="class")
    def mutated_corpus(self, spark):
        # 40 docs in 8 families; within a family only 1-2 words differ, so
        # signatures land within a small hamming radius of each other
        words = [
            "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
            "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omicron",
        ]
        rows = []
        for fam in range(8):
            base = [words[(fam * 3 + k) % len(words)] for k in range(10)]
            for j in range(5):
                toks = list(base)
                if j:  # mutate one word per variant
                    toks[j] = words[(fam + j * 5) % len(words)]
                rows.append(Row(doc_id=fam * 5 + j, text=" ".join(toks)))
        rows.append(Row(doc_id=100, text=""))  # token-less: must not explode
        return spark.createDataFrame(rows)

    def test_simhash_banded_matches_all_pairs(self, mutated_corpus):
        """The banded equi-join must return exactly the pairs the exact
        all-pairs formulation returns (pigeonhole guarantees no false
        negatives; the post-filter removes false positives)."""
        threshold = 6
        sigs = mutated_corpus.filter("text <> ''").select(
            "doc_id", dedup.simhash_column(F.col("text")).alias("sig")
        )
        a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
        b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
        exact = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
            )
            .where(F.col("hamming") <= threshold)
        )
        banded = dedup.simhash_neardup_candidates(
            mutated_corpus, "text", "doc_id", hamming_threshold=threshold
        )
        exact_set = {(r["id_a"], r["id_b"], r["hamming"]) for r in exact.collect()}
        banded_set = {(r["id_a"], r["id_b"], r["hamming"]) for r in banded.collect()}
        assert exact_set, "fixture must produce at least one near-dup pair"
        assert banded_set == exact_set

    def test_simhash_banded_plan_is_equi_join(self, mutated_corpus):
        banded = dedup.simhash_neardup_candidates(
            mutated_corpus, "text", "doc_id", hamming_threshold=2
        )
        plan = banded._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestPSL:
    """Public-Suffix-List registrable domains (functions/psl.py): the
    full algorithm over the vendored snapshot — longest match wins,
    wildcards, exceptions, private section, default rule."""

    EXPECTED = {
        "www.example.com": "example.com",
        "example.co.uk": "example.co.uk",
        "a.b.example.co.uk": "example.co.uk",
        "foo.com.au": "foo.com.au",
        "user.github.io": "user.github.io",       # private section
        "deep.user.github.io": "user.github.io",
        "x.weird.ck": "x.weird.ck",               # *.ck wildcard
        "www.ck": "www.ck",                       # !www.ck exception
        "a.www.ck": "www.ck",
        "city.kobe.jp": "city.kobe.jp",           # !city.kobe.jp
        "x.city.kobe.jp": "city.kobe.jp",
        "other.kobe.jp": None,                    # *.kobe.jp: IS a suffix
        "school.k12.ca.us": "school.k12.ca.us",   # 3-label rule
        "localhost": None,
        "com": None,
        "co.uk": None,                            # bare suffix -> NULL
        "b.blogspot.com": "b.blogspot.com",
        "s3.amazonaws.com": None,                 # private 3-label suffix
        "bucket.s3.amazonaws.com": "bucket.s3.amazonaws.com",
        "example.tokyo.jp": "example.tokyo.jp",
        "UPPER.Example.COM": "example.com",       # lowercased first
        # multi-level private wildcards (VERDICT r8 #4)
        "cust1.compute.amazonaws.com": None,      # *.compute...: IS a suffix
        "ec2-1-2-3-4.cust1.compute.amazonaws.com":
            "ec2-1-2-3-4.cust1.compute.amazonaws.com",
        "deep.host.cust1.compute.amazonaws.com":
            "host.cust1.compute.amazonaws.com",
        "lb.us-east-1.elb.amazonaws.com": "lb.us-east-1.elb.amazonaws.com",
        "api.myapp.r.appspot.com": "api.myapp.r.appspot.com",
        "myapp.r.appspot.com": None,              # bare wildcard suffix
        "myapp.appspot.com": "myapp.appspot.com", # plain appspot rule still wins
        "brand.uk.com": "brand.uk.com",           # CentralNic pseudo-cc
        "www.brand.uk.com": "brand.uk.com",
    }

    def test_engine_matches_expected(self, spark):
        from gohangout_spark.functions.psl import registrable_domain

        df = spark.createDataFrame(
            [(h,) for h in self.EXPECTED], "host string"
        ).select("host", registrable_domain("host").alias("rd"))
        got = {r["host"]: r["rd"] for r in df.collect()}
        assert got == self.EXPECTED

    def test_sql_generator_matches_engine(self):
        import duckdb

        from gohangout_spark.functions.psl import registrable_domain_sql

        con = duckdb.connect()
        con.execute("CREATE TABLE hosts(host VARCHAR)")
        con.executemany(
            "INSERT INTO hosts VALUES (?)", [(h.lower(),) for h in self.EXPECTED]
        )
        sql = f"SELECT host, {registrable_domain_sql('host')} AS rd FROM hosts"
        got = dict(con.execute(sql).fetchall())
        want = {h.lower(): rd for h, rd in self.EXPECTED.items()}
        assert got == want

    def test_parse_psl_shapes(self):
        from gohangout_spark.functions.psl import parse_psl

        rules, wild, exc = parse_psl()
        assert "co.uk" in rules[2] and "k12.ca.us" in rules[3]
        assert "ck" in wild[1] and "kobe.jp" in wild[2] and "sch.uk" in wild[2]
        assert "www.ck" in exc[2] and "city.kobe.jp" in exc[3]
        # icann_only drops the private section
        icann_rules, _, _ = parse_psl(icann_only=True)
        assert "github.io" in rules[2] and "github.io" not in icann_rules[2]

    def test_icann_only_changes_private_hosts(self, spark):
        from gohangout_spark.functions.psl import registrable_domain

        df = spark.createDataFrame([("user.github.io",)], "host string")
        both = df.select(registrable_domain("host").alias("rd")).first()["rd"]
        icann = df.select(
            registrable_domain("host", icann_only=True).alias("rd")
        ).first()["rd"]
        assert both == "user.github.io"  # github.io is the suffix
        assert icann == "github.io"      # io is the suffix


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        base = rng.randn(20, 8)
        base[5] = base[0] + 0.01 * rng.randn(8)  # 5 is a near-dup of 0
        rows = [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(20)]
        return spark.createDataFrame(rows)

    def test_brute_force_topk(self, emb):
        out = similarity.brute_force_topk(emb, emb.filter("vec_id = 0"), k=3)
        rows = sorted(out.collect(), key=lambda r: r["rank"])
        assert rows[0]["neighbor_id"] == 5  # the planted near-dup
        assert rows[0]["sim"] > 0.99
        assert [r["rank"] for r in rows] == [1, 2, 3]

    def test_lsh_topk_finds_planted_neighbor(self, emb):
        out = similarity.lsh_topk(emb, emb.filter("vec_id = 0"), dim=8, k=3, n_planes=2)
        rows = sorted(out.collect(), key=lambda r: r["rank"])
        assert rows and rows[0]["neighbor_id"] == 5


class TestRecall:
    """Recall@k of the approximate ANN paths against the exact baseline —
    the quantitative guard behind the `no_oracle` rows-only checks."""

    K = 5
    N_QUERIES = 20

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        import numpy as np

        rng = np.random.RandomState(11)
        # 10 loose clusters of 15 vectors each: realistic ANN structure
        centers = rng.randn(10, 16) * 3
        vecs = []
        for i in range(150):
            vecs.append(centers[i % 10] + 0.6 * rng.randn(16))
        rows = [
            Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)
        ]
        return spark.createDataFrame(rows).cache()

    def _topk_sets(self, df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    def _recall(self, approx, exact):
        hits = total = 0
        for qid, truth in exact.items():
            got = approx.get(qid, set())
            hits += len(got & truth)
            total += len(truth)
        return hits / total

    def test_lsh_topk_recall(self, corpus):
        queries = corpus.filter(F.col("vec_id") < self.N_QUERIES)
        exact = self._topk_sets(
            similarity.brute_force_topk(corpus, queries, k=self.K)
        )
        approx = self._topk_sets(
            similarity.lsh_topk(
                corpus, queries, dim=16, k=self.K, n_planes=6, multi_probe=1
            )
        )
        recall = self._recall(approx, exact)
        print(f"lsh_topk recall@{self.K} (n_planes=6, multi_probe=1): {recall:.3f}")
        assert recall >= 0.8

    def test_ivf_topk_recall(self, corpus):
        queries = corpus.filter(F.col("vec_id") < self.N_QUERIES)
        exact = self._topk_sets(
            similarity.brute_force_topk(corpus, queries, k=self.K)
        )
        approx = self._topk_sets(
            similarity.ivf_topk(corpus, queries, k=self.K, n_centroids=8, n_probe=3)
        )
        recall = self._recall(approx, exact)
        print(f"ivf_topk recall@{self.K} (8 centroids, 3 probes): {recall:.3f}")
        assert recall >= 0.6  # sampled (non-kmeans) centroids: weaker bound

    def test_ivf_kmeans_refinement(self, corpus):
        queries = corpus.filter(F.col("vec_id") < self.N_QUERIES)
        exact = self._topk_sets(
            similarity.brute_force_topk(corpus, queries, k=self.K)
        )
        seeded = self._recall(
            self._topk_sets(
                similarity.ivf_topk(corpus, queries, k=self.K, n_centroids=8, n_probe=3)
            ),
            exact,
        )
        refined = self._recall(
            self._topk_sets(
                similarity.ivf_topk(
                    corpus, queries, k=self.K, n_centroids=8, n_probe=3, refine_iters=3
                )
            ),
            exact,
        )
        print(f"ivf recall@{self.K}: seeded {seeded:.3f} -> kmeans {refined:.3f}")
        assert refined >= 0.8 and refined >= seeded - 0.05

    def test_pq_topk_recall(self, corpus):
        queries = corpus.filter(F.col("vec_id") < self.N_QUERIES)
        exact = self._topk_sets(
            similarity.brute_force_topk(corpus, queries, k=self.K)
        )
        # ADC-only ordering is a CANDIDATE GENERATOR: quantization noise
        # (~0.14 recon err) swamps within-cluster sim gaps (~0.01), so its
        # top-k is weak by construction...
        adc_only = self._recall(
            self._topk_sets(
                similarity.pq_topk(corpus, queries, dim=16, m=8, n_codes=16, k=self.K)
            ),
            exact,
        )
        # ...and exact re-rank of the top rerank×k ADC candidates is the
        # standard remedy (FAISS IVF-PQ shape) — full recall on this fixture
        reranked = self._recall(
            self._topk_sets(
                similarity.pq_topk(
                    corpus, queries, dim=16, m=8, n_codes=16, k=self.K, rerank=4
                )
            ),
            exact,
        )
        print(f"pq recall@{self.K}: adc-only {adc_only:.3f} -> rerank4 {reranked:.3f}")
        assert adc_only >= 0.25
        assert reranked >= 0.9

    def test_ivf_pq_topk_recall(self, corpus):
        queries = corpus.filter(F.col("vec_id") < self.N_QUERIES)
        exact = self._topk_sets(
            similarity.brute_force_topk(corpus, queries, k=self.K)
        )
        out = similarity.ivf_pq_topk(
            corpus, queries, dim=16, n_centroids=8, n_probe=3,
            m=8, n_codes=16, k=self.K, rerank=4,
        )
        recall = self._recall(self._topk_sets(out), exact)
        print(f"ivf_pq recall@{self.K} (8 cells, 3 probes, m=8): {recall:.3f}")
        assert recall >= 0.85
        # the composed plan must stay equi-join-only: the cell join prunes,
        # never a broadcast nested loop over the corpus
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_ivf_pq_residual_half_budget(self, corpus):
        """Residual encoding (quantize v - centroid per cell) must hold the
        0.85 recall floor at HALF the code budget of the residual-free
        variant above (m=4 vs m=8)."""
        queries = corpus.filter(F.col("vec_id") < self.N_QUERIES)
        exact = self._topk_sets(
            similarity.brute_force_topk(corpus, queries, k=self.K)
        )
        out = similarity.ivf_pq_topk(
            corpus, queries, dim=16, n_centroids=8, n_probe=3,
            m=4, n_codes=16, k=self.K, rerank=4, residual=True,
        )
        recall = self._recall(self._topk_sets(out), exact)
        print(f"ivf_pq residual recall@{self.K} (m=4): {recall:.3f}")
        assert recall >= 0.85
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_pq_encode_pandas_matches_expr(self, spark, corpus):
        # the Arrow-batched encoder (high-dim path) must emit the SAME codes
        # as the plan-literal expression path, and NULL vectors encode NULL
        from pyspark.sql.types import (
            ArrayType, DoubleType, LongType, StructField, StructType,
        )

        books = similarity.pq_codebooks(corpus, dim=16, m=4, n_codes=8)
        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(DoubleType())),
            ]
        )
        null_row = spark.createDataFrame([(10_000, None)], schema)
        df = corpus.unionByName(null_row)
        both = df.select(
            "vec_id",
            similarity.pq_encode(F.col("embedding"), books).alias("expr"),
            similarity.pq_encode_pandas(books)(F.col("embedding")).alias("pd"),
        ).collect()
        for r in both:
            if r["vec_id"] == 10_000:
                assert r["pd"] is None
            else:
                assert list(r["expr"]) == list(r["pd"]), r["vec_id"]

    def test_pq_codebooks_deterministic(self, corpus):
        b1 = similarity.pq_codebooks(corpus, dim=16, m=4, n_codes=8)
        b2 = similarity.pq_codebooks(corpus.repartition(7), dim=16, m=4, n_codes=8)
        assert b1 == b2
        with pytest.raises(ValueError):
            similarity.pq_codebooks(corpus, dim=16, m=5, n_codes=8)

    def test_kmeans_deterministic(self, corpus):
        c1 = similarity.kmeans_centroids(corpus, n_centroids=8, n_iter=2)
        c2 = similarity.kmeans_centroids(corpus.repartition(7), n_centroids=8, n_iter=2)
        assert c1 == c2

    def test_random_projection(self, corpus):
        # 16 -> 8 dims: projected-space top-k must still recover most true
        # neighbors (JL distance preservation), deterministically
        queries = corpus.filter(F.col("vec_id") < self.N_QUERIES)
        proj = similarity.random_projection(corpus, dim=16, out_dim=8)
        exact = self._topk_sets(
            similarity.brute_force_topk(corpus, queries, k=self.K)
        )
        approx = self._topk_sets(
            similarity.brute_force_topk(
                proj,
                proj.filter(F.col("vec_id") < self.N_QUERIES),
                vec_col="embedding_rp",
                k=self.K,
            )
        )
        recall = self._recall(approx, exact)
        print(f"random_projection 16->8 recall@{self.K}: {recall:.3f}")
        assert recall >= 0.6
        a = similarity.random_projection(corpus, dim=16, out_dim=8).collect()
        b = similarity.random_projection(
            corpus.repartition(7), dim=16, out_dim=8
        ).collect()
        am = {r["vec_id"]: r["embedding_rp"] for r in a}
        bm = {r["vec_id"]: r["embedding_rp"] for r in b}
        assert am == bm

    def test_q8_quantization(self, spark, corpus):
        """Int8 symmetric quantization: tight reconstruction on unit vectors,
        zero-vector safe, and the compressed brute-force scan keeps recall."""
        import numpy as np

        q = similarity.quantize_embeddings(corpus)
        row = q.first()
        v = np.asarray(row["embedding"], dtype=np.float64)
        deq = np.asarray(row["embedding_q8"], dtype=np.float64) * row["q8_scale"]
        err = np.abs(v - deq).max()
        assert err <= (np.abs(v).max() / 127.0) * 0.5 + 1e-12  # half-ULP of the grid
        # tinyint storage, never over +-127
        assert max(abs(x) for x in row["embedding_q8"]) <= 127

        zdf = spark.createDataFrame(
            [Row(vec_id=0, embedding=[0.0, 0.0])],
            "vec_id int, embedding array<double>",
        )
        zr = similarity.quantize_embeddings(zdf).first()
        assert zr["q8_scale"] == 0.0 and zr["embedding_q8"] == [0, 0]

        queries = corpus.filter(F.col("vec_id") < self.N_QUERIES)
        exact = self._topk_sets(similarity.brute_force_topk(corpus, queries, k=self.K))
        approx = self._topk_sets(similarity.q8_topk(corpus, queries, k=self.K))
        recall = self._recall(approx, exact)
        print(f"q8_topk recall@{self.K}: {recall:.3f}")
        assert recall >= 0.9

    def test_random_projection_pandas_matches_expr(self, spark, corpus):
        """The Arrow path must agree with the plan-literal path (same seeded
        matrix; ≤1e-9 relative — BLAS vs left-fold summation order)."""
        import numpy as np

        lit = {
            r["vec_id"]: r["embedding_rp"]
            for r in similarity.random_projection(corpus, dim=16, out_dim=8).collect()
        }
        pdp = {
            r["vec_id"]: r["embedding_rp"]
            for r in similarity.random_projection_pandas(
                corpus, dim=16, out_dim=8
            ).collect()
        }
        assert set(lit) == set(pdp)
        for k in lit:
            np.testing.assert_allclose(lit[k], pdp[k], rtol=1e-9, atol=1e-12)

        # NULL vector -> NULL projection, and a 4096->128 smoke (the size
        # the plan-literal route is documented NOT to handle)
        rows = [
            Row(vec_id=0, embedding=[float(x) for x in np.arange(4096) % 7]),
            Row(vec_id=1, embedding=None),
        ]
        big = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        out = {
            r["vec_id"]: r["embedding_rp"]
            for r in similarity.random_projection_pandas(
                big, dim=4096, out_dim=128
            ).collect()
        }
        assert out[1] is None and len(out[0]) == 128
        assert all(np.isfinite(out[0]))

    def test_null_embeddings_tolerated(self, spark, corpus):
        # a NULL embedding row anywhere in the corpus must not crash the
        # seeded centroid collect or explode LSH near-dup bucket 0
        from pyspark.sql.types import (
            ArrayType, DoubleType, LongType, StructField, StructType,
        )

        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(DoubleType())),
            ]
        )
        null_row = spark.createDataFrame([(10_000, None)], schema)
        dirty = corpus.unionByName(null_row)
        cents = similarity.kmeans_centroids(dirty, n_centroids=8, n_iter=1)
        assert len(cents) == 8 and all(v is not None for c in cents for v in c)
        pairs = similarity.cosine_neardup_pairs(
            dirty, threshold=0.8, n_planes=4, dim=16, n_bands=2
        ).collect()
        assert all(r["id_a"] != 10_000 and r["id_b"] != 10_000 for r in pairs)

    def test_neardup_lsh_recall(self, corpus):
        exact = {
            (r["id_a"], r["id_b"])
            for r in similarity.cosine_neardup_pairs(corpus, threshold=0.8).collect()
        }
        approx = {
            (r["id_a"], r["id_b"])
            for r in similarity.cosine_neardup_pairs(
                corpus, threshold=0.8, n_planes=4, dim=16
            ).collect()
        }
        assert exact, "fixture must contain near-dup pairs"
        assert approx <= exact  # LSH only prunes, never invents pairs
        recall = len(approx & exact) / len(exact)
        print(f"neardup LSH recall (n_planes=4): {recall:.3f} over {len(exact)} pairs")
        assert recall >= 0.8

    def test_neardup_lsh_requires_dim(self, corpus):
        with pytest.raises(ValueError, match="dim is required"):
            similarity.cosine_neardup_pairs(corpus, n_planes=4)


class TestPacking:
    def test_next_fit_invariants(self, spark):
        from gohangout_spark.functions.packing import pack_documents, pack_stats

        rows = [Row(doc_id=i, text=" ".join(["w"] * (3 + (i * 7) % 40))) for i in range(60)]
        rows.append(Row(doc_id=100, text=" ".join(["w"] * 99)))  # longer than budget
        df = spark.createDataFrame(rows)
        packed = pack_documents(df, max_tokens=50, n_shards=4)
        got = packed.collect()
        assert len(got) == 61  # every doc assigned exactly once
        stats = pack_stats(packed, max_tokens=50).collect()
        for s in stats:
            # a pack only exceeds the budget when it is one oversized doc
            assert s["tokens"] <= 50 or s["n_docs"] == 1
        # oversized doc sits alone in its pack
        big = next(r for r in got if r["doc_id"] == 100)
        mates = [
            r for r in got
            if r["shard"] == big["shard"] and r["pack"] == big["pack"]
        ]
        assert mates == [big]

    def test_deterministic_across_layouts(self, spark):
        from gohangout_spark.functions.packing import pack_documents

        rows = [Row(doc_id=i, text=" ".join(["w"] * (5 + i % 20))) for i in range(40)]
        df1 = spark.createDataFrame(rows).repartition(7)
        df2 = spark.createDataFrame(rows).coalesce(1)
        p1 = {(r["doc_id"], r["shard"], r["pack"]) for r in pack_documents(df1, max_tokens=64).collect()}
        p2 = {(r["doc_id"], r["shard"], r["pack"]) for r in pack_documents(df2, max_tokens=64).collect()}
        assert p1 == p2

    def test_bestfit_tighter_than_nextfit(self, spark):
        from gohangout_spark.functions.packing import (
            pack_documents,
            pack_documents_bestfit,
            pack_stats,
        )

        # mixed lengths: FFD's sweet spot (big docs first, small ones fill gaps)
        rows = [Row(doc_id=i, text=" ".join(["w"] * (3 + (i * 13) % 45))) for i in range(80)]
        df = spark.createDataFrame(rows)
        nf = pack_documents(df, max_tokens=50, n_shards=4)
        bf = pack_documents_bestfit(df, max_tokens=50, n_shards=4)
        assert bf.count() == 80  # every doc assigned exactly once
        for s in pack_stats(bf, max_tokens=50).collect():
            assert s["tokens"] <= 50 or s["n_docs"] == 1  # budget invariant
        # per shard, FFD never needs MORE packs than next-fit
        nf_packs = {r["shard"]: r["p"] for r in nf.groupBy("shard").agg(
            F.countDistinct("pack").alias("p")).collect()}
        bf_packs = {r["shard"]: r["p"] for r in bf.groupBy("shard").agg(
            F.countDistinct("pack").alias("p")).collect()}
        assert all(bf_packs[s] <= nf_packs[s] for s in nf_packs)
        assert sum(bf_packs.values()) < sum(nf_packs.values())  # strictly wins here
        # layout-independent
        again = {
            (r["doc_id"], r["shard"], r["pack"])
            for r in pack_documents_bestfit(
                df.repartition(9), max_tokens=50, n_shards=4
            ).collect()
        }
        assert again == {(r["doc_id"], r["shard"], r["pack"]) for r in bf.collect()}


class TestSampling:
    def test_token_budget_sample(self, spark):
        from gohangout_spark.functions.sampling import token_budget_sample

        rows = [
            Row(doc_id=i, source="a" if i < 6 else "b", n_tok=100) for i in range(10)
        ]
        df = spark.createDataFrame(rows)
        out = token_budget_sample(
            df, {"a": 250, "b": 0}, token_col="n_tok"
        ).collect()
        # budget 250 at 100 tok/doc: two full docs + the crossing third
        assert sum(1 for r in out if r["source"] == "a") == 3
        # zero/default budget excludes the source entirely
        assert not any(r["source"] == "b" for r in out)
        # kept tokens meet the budget (never undershoot)
        assert sum(r["n_tok"] for r in out if r["source"] == "a") >= 250
        # deterministic on any layout
        again = token_budget_sample(
            df.repartition(7), {"a": 250, "b": 0}, token_col="n_tok"
        ).collect()
        assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in out)

    def test_stratified_stable_and_uniformish(self, spark):
        from gohangout_spark.functions.sampling import stratified_sample

        rows = [Row(doc_id=i, lang=["en", "de", "fr"][i % 3]) for i in range(300)]
        df1 = spark.createDataFrame(rows).repartition(13)
        df2 = spark.createDataFrame(rows).coalesce(1)
        s1 = {(r["doc_id"], r["lang"]) for r in stratified_sample(df1, "lang", "doc_id", 10).collect()}
        s2 = {(r["doc_id"], r["lang"]) for r in stratified_sample(df2, "lang", "doc_id", 10).collect()}
        assert s1 == s2 and len(s1) == 30  # layout-independent, 10 per stratum
        seeded = {
            r["doc_id"]
            for r in stratified_sample(df1, "lang", "doc_id", 10, seed=7).collect()
        }
        assert seeded != {d for d, _ in s1}  # seed changes the draw

    def test_cap_per_group(self, spark):
        from gohangout_spark.functions.sampling import cap_per_group

        rows = [
            Row(doc_id=i, source=f"s{i % 4}", quality=float(i % 7)) for i in range(80)
        ]
        df = spark.createDataFrame(rows).repartition(5)
        capped = cap_per_group(df, "source", "doc_id", 6, order_by=F.desc("quality"))
        assert capped.columns == df.columns  # rank column dropped
        per = {r["source"]: r["count"] for r in capped.groupBy("source").count().collect()}
        assert all(c == 6 for c in per.values()) and len(per) == 4
        # keeps the BEST rows: per group, min kept quality >= max dropped quality
        kept_min = {
            r["source"]: r["mn"]
            for r in capped.groupBy("source").agg(F.min("quality").alias("mn")).collect()
        }
        dropped = df.join(capped.select("doc_id"), "doc_id", "left_anti")
        drop_max = {
            r["source"]: r["mx"]
            for r in dropped.groupBy("source").agg(F.max("quality").alias("mx")).collect()
        }
        assert all(kept_min[s] >= drop_max[s] for s in drop_max)
        # hash-order default is layout-stable
        a = {r["doc_id"] for r in cap_per_group(df, "source", "doc_id", 3).collect()}
        b = {r["doc_id"] for r in cap_per_group(df.coalesce(1), "source", "doc_id", 3).collect()}
        assert a == b

    def test_deterministic_sample(self, spark):
        from gohangout_spark.functions.sampling import deterministic_sample

        df = spark.createDataFrame([Row(doc_id=i) for i in range(100)])
        a = [r["doc_id"] for r in deterministic_sample(df, "doc_id", 10).collect()]
        b = [r["doc_id"] for r in deterministic_sample(df.repartition(9), "doc_id", 10).collect()]
        assert a == b and len(a) == 10


class TestCuration:
    def test_url_parts_and_normalize(self, spark):
        from gohangout_spark.functions.curation import normalize_url, url_parts

        df = spark.createDataFrame(
            [
                Row(i=1, url="https://WWW.News.Example.COM:443/a/b?utm_source=x&b=2&a=1#frag"),
                Row(i=2, url="http://blog.example.co.uk:80/post"),
                Row(i=3, url="https://cdn.site.io:8443/x?gclid=g&z=9&ref=h"),
                Row(i=4, url="https://example.org"),
                Row(i=5, url="not a url"),
            ]
        )
        out = {
            r["i"]: r
            for r in url_parts(df, "url")
            .withColumn("norm", normalize_url("url"))
            .collect()
        }
        r1 = out[1]
        assert r1["scheme"] == "https" and r1["host"] == "www.news.example.com"
        assert r1["port"] == 443 and r1["registrable_domain"] == "example.com"
        # normalized: host lowercased, default port dropped, utm_ stripped,
        # params sorted, fragment gone
        assert r1["norm"] == "https://www.news.example.com/a/b?a=1&b=2"
        r2 = out[2]
        assert r2["registrable_domain"] == "example.co.uk"  # cc-SLD -> 3 labels
        assert r2["norm"] == "http://blog.example.co.uk/post"
        r3 = out[3]
        assert r3["registrable_domain"] == "site.io" and r3["port"] == 8443
        assert r3["norm"] == "https://cdn.site.io:8443/x?z=9"  # gclid+ref gone
        r4 = out[4]
        assert r4["registrable_domain"] == "example.org"
        assert r4["norm"] == "https://example.org/"  # empty path -> '/'
        # non-URL: empty parts, NULL port — never a crash
        r5 = out[5]
        assert r5["scheme"] == "" and r5["port"] is None

    def test_ngram_repetition_stats(self, spark):
        from gohangout_spark.functions.curation import ngram_repetition_stats

        df = spark.createDataFrame(
            [
                # 'a b' 2-gram repeats 4x: top-2gram covers everything
                Row(doc_id=1, text="a b a b a b a b"),
                Row(doc_id=2, text="all distinct words here now"),
                Row(doc_id=3, text="x"),          # shorter than every n
                Row(doc_id=4, text=None),
            ]
        )
        out = {
            r["doc_id"]: r
            for r in ngram_repetition_stats(df, top_ns=(2,), dup_ns=(2,)).collect()
        }
        # doc 1: norm chars 15; top 2-gram 'a b' (len 3) occurs 4x -> 12/15
        assert out[1]["top_2gram_char_frac"] == 0.8
        assert out[1]["dup_2gram_char_frac"] > 0.8  # overlap-sum, clamped <= 1
        assert out[1]["dup_2gram_char_frac"] <= 1.0
        # no repeated 2-gram -> dup 0; top gram occurs once
        assert out[2]["dup_2gram_char_frac"] == 0.0
        assert 0 < out[2]["top_2gram_char_frac"] < 1
        # too short / NULL -> all zeros, rows preserved
        for d in (3, 4):
            assert out[d]["top_2gram_char_frac"] == 0.0
            assert out[d]["dup_2gram_char_frac"] == 0.0

    def test_gopher_rules(self, spark):
        from gohangout_spark.functions.curation import gopher_rules

        good = " ".join(f"word{i}" for i in range(60))
        bullets = "\n".join(f"* item {i} extra words here" for i in range(20))
        symbols = " ".join(["ok#tag"] * 60)
        numeric = " ".join(["123 456"] * 40)
        df = spark.createDataFrame(
            [
                Row(doc_id=1, text=good),
                Row(doc_id=2, text="too short"),
                Row(doc_id=3, text=bullets),
                Row(doc_id=4, text=symbols),
                Row(doc_id=5, text=numeric),
                Row(doc_id=6, text=None),
            ]
        )
        out = {r["doc_id"]: r for r in gopher_rules(df, min_words=30).collect()}
        assert out[1]["gopher_keep"] is True
        assert out[2]["rule_word_count"] is False and out[2]["gopher_keep"] is False
        # every line is a bullet -> ratio 1.0 > 0.9
        assert out[3]["rule_bullet_lines"] is False
        # one '#' per word -> symbol ratio 1.0
        assert out[4]["rule_symbol_ratio"] is False
        # pure digits fail the alpha-word rule
        assert out[5]["rule_alpha_words"] is False and out[5]["gopher_keep"] is False
        # NULL text: FALSE verdicts, never NULL (three-valued logic hazard)
        assert out[6]["gopher_keep"] is False and out[6]["rule_word_count"] is False

    def test_redact_pii(self, spark):
        from gohangout_spark.functions import curation

        df = spark.createDataFrame(
            [
                Row(s="mail bob.smith+x@corp.example.org now"),
                Row(s="server at 192.168.001.27 port 80"),
                Row(s="call +44 020 7946 0958 today"),
                Row(s="clean text stays clean"),
            ]
        )
        out = [r["c"] for r in df.select(curation.redact_pii(F.col("s")).alias("c")).collect()]
        assert out == [
            "mail <EMAIL> now",
            "server at <IP> port 80",
            "call <PHONE> today",
            "clean text stays clean",
        ]

    def test_decontaminate(self, spark):
        from gohangout_spark.functions import curation

        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="the quick brown fox jumps"),
                Row(doc_id=2, text="a totally innocent document"),
                Row(doc_id=3, text="contains quick brown fox inside"),
            ]
        )
        out = {
            r["doc_id"]: r["contaminated"]
            for r in curation.decontaminate(df, ["quick brown fox", "zzz"]).collect()
        }
        assert out == {1: True, 2: False, 3: True}

    def test_decontaminate_null_text_is_clean(self, spark):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from gohangout_spark.functions import curation

        schema = StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        )
        df = spark.createDataFrame(
            [(1, "has the quick brown fox"), (2, None)], schema
        )
        out = {
            r["doc_id"]: r["contaminated"]
            for r in curation.decontaminate(df, ["quick brown fox"]).collect()
        }
        # NULL text must mark False, not NULL — where(~NULL) would silently
        # drop the clean row in Decontaminate action=drop
        assert out == {1: True, 2: False}

    def test_repetition_stats_includes_empty_docs(self, spark):
        from gohangout_spark.functions import curation

        df = spark.createDataFrame(
            [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="   ")]
        )
        out = {r["doc_id"]: r for r in curation.repetition_stats(df).collect()}
        assert set(out) == {1, 2}
        assert out[2]["n_words"] == 0 and out[2]["top_word_ratio"] is None

    def test_decontaminate_ngrams(self, spark):
        from gohangout_spark.functions import curation

        ev = spark.createDataFrame(
            [Row(doc_id=100, text="alpha beta gamma delta epsilon zeta")]
        )
        corpus = spark.createDataFrame(
            [
                # shares the 3-grams "beta gamma delta" and "gamma delta epsilon"
                Row(doc_id=1, text="x beta gamma delta epsilon y"),
                Row(doc_id=2, text="nothing in common at all here"),
                Row(doc_id=3, text="alpha beta only"),  # shorter than any shared 3-gram run
                Row(doc_id=4, text="al be"),  # shorter than n words entirely
            ]
        )
        out = {
            r["doc_id"]: (r["contam_hits"], r["contaminated"])
            for r in curation.decontaminate_ngrams(corpus, ev, n=3).collect()
        }
        assert out[1] == (2, True)
        assert out[2] == (0, False)
        assert out[3] == (0, False)
        assert out[4] == (0, False)
        # min_hits raises the bar; unhashed path agrees with the hashed one
        strict = {
            r["doc_id"]: r["contaminated"]
            for r in curation.decontaminate_ngrams(
                corpus, ev, n=3, min_hits=3, hashed=False
            ).collect()
        }
        assert strict == {1: False, 2: False, 3: False, 4: False}
        # scale shape: the eval side must broadcast (corpus grams never shuffle)
        plan = (
            curation.decontaminate_ngrams(corpus, ev, n=3)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan

    def test_repetition_stats(self, spark):
        from gohangout_spark.functions import curation

        df = spark.createDataFrame(
            [
                Row(doc_id=1, text="spam spam spam spam eggs"),
                Row(doc_id=2, text="all words here are unique"),
            ]
        )
        out = {r["doc_id"]: r for r in curation.repetition_stats(df).collect()}
        assert out[1]["n_words"] == 5 and out[1]["top_word_count"] == 4
        assert out[1]["top_word_ratio"] == 0.8
        assert out[2]["n_distinct_words"] == 5 and out[2]["top_word_ratio"] == 0.2

    def test_quantile_buckets(self, spark):
        from gohangout_spark.functions import curation

        rows = [
            Row(doc_id=i, lang="en" if i < 9 else "fr", score=float(i % 9))
            for i in range(12)
        ]
        df = spark.createDataFrame(rows)
        out = curation.quantile_buckets(
            df, score_col="score", group_col="lang",
            labels=["tail", "middle", "head"],
        )
        en = [r for r in out.collect() if r["lang"] == "en"]
        per = {}
        for r in en:
            per.setdefault(r["bucket"], []).append(r["score"])
        # 9 en docs -> 3 per band, ordered low->high
        assert sorted(len(v) for v in per.values()) == [3, 3, 3]
        assert max(per["tail"]) <= min(per["middle"]) <= min(per["head"])
        # deterministic on any layout
        again = curation.quantile_buckets(
            df.repartition(5), score_col="score", group_col="lang",
            labels=["tail", "middle", "head"],
        )
        key = lambda rs: sorted((r["doc_id"], r["bucket"]) for r in rs)  # noqa: E731
        assert key(again.collect()) == key(out.collect())
        import pytest as _pytest

        with _pytest.raises(ValueError):
            curation.quantile_buckets(df, score_col="score", labels=["a", "b"])

    def test_quantile_buckets_ungrouped_distributed(self, spark):
        """The ungrouped path must (a) avoid the single-task global window
        (ADVICE r2) and (b) still emit exact SQL ntile semantics on any
        layout, including N not divisible by n_buckets."""
        from pyspark.sql.window import Window as W

        from gohangout_spark.functions import curation

        rows = [Row(doc_id=i, score=float((i * 7) % 23)) for i in range(25)]
        df = spark.createDataFrame(rows).repartition(6)
        out = curation.quantile_buckets(df, score_col="score", n_buckets=4)
        got = {r["doc_id"]: r["bucket"] for r in out.collect()}
        # reference semantics: plain ntile over the global (score, id) order
        ref_col = F.ntile(4).over(W.orderBy(F.col("score").asc(), F.col("doc_id").asc()))
        ref = {
            r["doc_id"]: r["b"]
            for r in df.withColumn("b", ref_col).collect()
        }
        assert got == ref
        # 25 rows / 4 buckets -> sizes [7, 6, 6, 6]
        from collections import Counter

        assert sorted(Counter(got.values()).values(), reverse=True) == [7, 6, 6, 6]
        # plan shape: no unpartitioned global-sort window over the data;
        # the only Window without partitioning runs over the tiny counts df
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "__pid" in plan  # distributed path actually taken
        # schema preserved + bucket col added
        assert set(out.columns) == {"doc_id", "score", "bucket"}

    def test_weighted_mixture(self, spark):
        from gohangout_spark.functions import curation

        rows = [Row(doc_id=i, source=f"s{i % 2}") for i in range(2000)]
        df = spark.createDataFrame(rows)
        kept = curation.weighted_mixture(df, {"s0": 1.0, "s1": 0.25}).collect()
        per = {}
        for r in kept:
            per[r["source"]] = per.get(r["source"], 0) + 1
        assert per["s0"] == 1000  # p=1.0 keeps everything
        assert 180 <= per["s1"] <= 320  # p=0.25 of 1000, binomial slack
        again = curation.weighted_mixture(df.repartition(7), {"s0": 1.0, "s1": 0.25})
        assert {r["doc_id"] for r in again.collect()} == {r["doc_id"] for r in kept}


class TestRealCodecs:
    def test_ppm_roundtrip_and_comments(self):
        import numpy as np

        from gohangout_spark.functions.multimodal import PpmCodec

        c = PpmCodec()
        px = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(4, 5, 3)
        assert (c.decode(c.encode(px)) == px).all()
        # header comments and flexible whitespace are legal PPM
        body = px.tobytes()
        weird = b"P6 # a comment\n5\n# another\n 4 255\n" + body
        assert (c.decode(weird) == px).all()
        with pytest.raises(ValueError):
            c.decode(b"P3\n1 1\n255\n000")

    def test_bmp_roundtrip_with_padding(self):
        import numpy as np

        from gohangout_spark.functions.multimodal import BmpCodec

        c = BmpCodec()
        # width 3 -> 9-byte rows padded to 12: exercises the stride path
        px = np.arange(3 * 3 * 3, dtype=np.uint8).reshape(3, 3, 3)
        out = c.encode(px)
        assert out[:2] == b"BM"
        assert (c.decode(out) == px).all()
        with pytest.raises(ValueError):
            c.decode(b"NOPE")

    def test_wav_roundtrip(self):
        import numpy as np

        from gohangout_spark.functions.multimodal import WavPcmCodec

        c = WavPcmCodec()
        pcm = np.sin(np.linspace(0, 20, 800)).astype(np.float32) * 0.5
        back = c.decode(c.encode(pcm))
        assert back.shape == pcm.shape
        # 16-bit quantization (0.5 LSB) + the 32767-encode/32768-decode
        # scale convention bound the roundtrip error at ~5e-5
        np.testing.assert_allclose(back, pcm, atol=5e-5)

    def test_auto_codec_dispatch(self):
        import numpy as np

        from gohangout_spark.functions.multimodal import (
            AutoCodec,
            BmpCodec,
            PpmCodec,
        )

        px = np.full((2, 2, 3), 9, dtype=np.uint8)
        auto = AutoCodec()
        assert (auto.decode(PpmCodec().encode(px)) == px).all()
        assert (auto.decode(BmpCodec().encode(px)) == px).all()
        # JPEG magic now DISPATCHES (functions/jpeg.py); a truncated one
        # raises the codec's own error, not "unrecognized magic"
        with pytest.raises(ValueError, match="scan data"):
            auto.decode(b"\xff\xd8jpeg-ish")
        with pytest.raises(ValueError, match="magic"):
            auto.decode(b"??not-an-image")
        # fallback mode: unknown payloads go through the deterministic fake
        fb = AutoCodec(fallback=True)
        assert fb.decode(b"??not-an-image").ndim == 3

    def test_rawvideo_roundtrip_and_sampling(self, spark):
        import numpy as np

        from gohangout_spark.functions.multimodal import (
            PpmCodec,
            RawVideoCodec,
            make_rawvideo_media_table,
            sample_video_frames,
        )

        frames_in = [
            np.full((2, 3, 3), v, dtype=np.uint8) for v in (10, 20, 30, 40, 50)
        ]
        payload = RawVideoCodec.encode(frames_in)
        out = list(RawVideoCodec().iter_frames(payload))
        assert len(out) == 5
        for a, b in zip(frames_in, out):
            assert (a == b).all()
        with pytest.raises(ValueError, match="magic"):
            list(RawVideoCodec().iter_frames(b"garbage"))

        media = make_rawvideo_media_table(spark, n=8)
        sampled = sample_video_frames(media, every_n=2, codec=RawVideoCodec())
        rows = sampled.collect()
        # every sampled frame is a standalone decodable PPM at an even index
        ppm = PpmCodec()
        for r in rows:
            assert r["frame_idx"] % 2 == 0
            px = ppm.decode(bytes(r["frame"]))
            assert px.shape == (3, 4, 3)

    def test_ppm_features_analytic(self, spark):
        from gohangout_spark.functions.multimodal import (
            PpmCodec,
            extract_image_features,
            make_ppm_media_table,
        )

        media = make_ppm_media_table(spark, n=12)
        out = {
            r["media_id"]: r
            for r in extract_image_features(media, codec=PpmCodec()).collect()
        }
        for i in range(12):
            r = out[i]
            assert r["mean_r"] == float((i * 3) % 256)
            assert r["mean_g"] == float((i * 7) % 256)
            assert r["mean_b"] == float((i * 11) % 256)
            assert (r["width"], r["height"]) == (8 + i % 5, 6 + i % 4)


class TestMultimodal:
    def test_feature_extract_deterministic(self, spark):
        media = multimodal.make_fake_media_table(spark, n=8)
        f1 = {r["media_id"]: r["mean_r"] for r in multimodal.extract_image_features(media).collect()}
        f2 = {r["media_id"]: r["mean_r"] for r in multimodal.extract_image_features(media).collect()}
        assert f1 == f2 and len(f1) == 8

    def test_resize_shapes(self, spark):
        media = multimodal.make_fake_media_table(spark, n=4)
        out = multimodal.resize_images(media, width=6, height=5)
        rows = out.collect()
        assert all(r["meta"]["width"] == 6 and r["meta"]["height"] == 5 for r in rows)
        assert all(len(bytes(r["content"])) == 6 * 5 * 3 for r in rows)

    def test_frame_sampling(self, spark):
        media = multimodal.make_fake_media_table(spark, n=4)
        out = multimodal.sample_video_frames(media, every_n=10).collect()
        assert len(out) >= 4
        assert all(r["frame_idx"] % 10 == 0 for r in out)

    def test_real_codec_stub_raises(self):
        import numpy as np

        with pytest.raises(NotImplementedError):
            multimodal.RealCodec().decode(b"x")


class TestClusterDuplicates:
    def test_chain_and_star_clusters(self, spark):
        from gohangout_spark.functions.dedup import (
            cluster_duplicates,
            dedup_keep_cluster_representative,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (9, 5)], "id_a long, id_b long"
        )
        got = {
            r["doc_id"]: r["cluster_id"] for r in cluster_duplicates(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 9: 5}

        docs = spark.createDataFrame(
            [(i, f"d{i}") for i in (1, 2, 3, 4, 5, 6, 9)], "doc_id long, text string"
        )
        kept = sorted(
            r["doc_id"]
            for r in dedup_keep_cluster_representative(docs, pairs, "doc_id").collect()
        )
        assert kept == [1, 4, 5]  # representatives + untouched doc 4

    def test_cluster_aware_split_no_leakage(self, spark):
        from gohangout_spark.functions.dedup import cluster_aware_split

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
        )
        docs = spark.createDataFrame(
            [(i,) for i in range(1, 9)], "doc_id long"
        )
        rows = cluster_aware_split(docs, pairs, id_col="doc_id").collect()
        assert len(rows) == 8
        by_id = {r["doc_id"]: r for r in rows}
        # every near-dup pair lands in the SAME split (the whole point)
        for a, b in [(1, 2), (2, 3), (5, 6)]:
            assert by_id[a]["split"] == by_id[b]["split"]
            assert by_id[a]["cluster_id"] == by_id[b]["cluster_id"]
        # singletons are their own cluster
        for i in (4, 7, 8):
            assert by_id[i]["cluster_id"] == i
        # deterministic across invocations
        again = {r["doc_id"]: r["split"]
                 for r in cluster_aware_split(docs, pairs, id_col="doc_id").collect()}
        assert again == {i: r["split"] for i, r in by_id.items()}
        # custom fractions must sum to 1 and be positive
        with pytest.raises(ValueError, match="sum to 1"):
            cluster_aware_split(docs, pairs, splits=(("a", 0.5), ("b", 0.4)))
        with pytest.raises(ValueError, match="positive"):
            cluster_aware_split(docs, pairs, splits=(("a", 1.2), ("b", -0.2)))

    def test_cluster_aware_split_string_ids(self, spark):
        # non-numeric ids must work (regression: a long cast crashed
        # ANSI mode / silently collapsed the split with ANSI off)
        from gohangout_spark.functions.dedup import cluster_aware_split

        docs = spark.createDataFrame(
            [(f"doc-{i}",) for i in range(6)], "doc_id string"
        )
        pairs = spark.createDataFrame(
            [("doc-0", "doc-1")], "id_a string, id_b string"
        )
        rows = {r["doc_id"]: r for r in
                cluster_aware_split(docs, pairs, id_col="doc_id").collect()}
        assert len(rows) == 6
        assert rows["doc-0"]["split"] == rows["doc-1"]["split"]
        assert rows["doc-0"]["cluster_id"] == rows["doc-1"]["cluster_id"]
        # different singleton clusters draw independently (not all equal
        # unless by astronomically unlucky hash agreement of 4 draws)
        assert len({r["cluster_id"] for r in rows.values()}) == 5

    def test_cluster_aware_split_fractions_roughly_hold(self, spark):
        from gohangout_spark.functions.dedup import cluster_aware_split

        # 400 singleton docs: the 80/10/10 draw should be loosely
        # respected (deterministic, so the assertion can be tight-ish)
        docs = spark.range(400).withColumnRenamed("id", "doc_id")
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        counts = {
            r["split"]: r["n"]
            for r in cluster_aware_split(docs, pairs, id_col="doc_id")
            .groupBy("split").agg(F.count("*").alias("n")).collect()
        }
        assert sum(counts.values()) == 400
        assert counts["train"] > 280 and counts["val"] < 80 and counts["test"] < 80

    def test_keep_best_per_cluster_picks_max_score(self, spark):
        from gohangout_spark.functions.dedup import keep_best_per_cluster

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
        )
        docs = spark.createDataFrame(
            [(1, 10), (2, 30), (3, 20), (4, 99), (5, 7), (6, 7)],
            "doc_id long, score long",
        )
        rows = keep_best_per_cluster(docs, pairs, id_col="doc_id").collect()
        got = {r["doc_id"]: r["cluster_id"] for r in rows}
        # cluster {1,2,3}: doc 2 wins on score; cluster {5,6}: tie -> min id;
        # singleton 4 passes through as its own cluster
        assert got == {2: 1, 4: 4, 5: 5}

    def test_audio_features(self, spark):
        media = multimodal.make_fake_media_table(spark, n=6)
        rows = multimodal.extract_audio_features(media).collect()
        assert len(rows) == 6
        assert all(r["duration_s"] > 0 and r["rms"] > 0 for r in rows)
        with pytest.raises(NotImplementedError):
            multimodal.RealAudioCodec().decode(b"x")


class TestMultiProbeLSH:
    def test_recall_improves_with_probing(self, spark):
        import numpy as np

        rng = np.random.RandomState(3)
        base = rng.randn(120, 16)
        rows = [Row(vec_id=i, embedding=[float(x) for x in base[i]]) for i in range(120)]
        emb = spark.createDataFrame(rows)
        queries = emb.filter("vec_id < 8")

        exact = similarity.brute_force_topk(emb, queries, k=3)
        truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}

        def recall(multi_probe):
            got = similarity.lsh_topk(
                emb, queries, dim=16, k=3, n_planes=6, multi_probe=multi_probe
            )
            hits = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
            return len(hits & truth) / len(truth)

        r0, r2 = recall(0), recall(2)
        assert r2 >= r0
        assert r2 >= 0.6, (r0, r2)

    def test_probe_count_cap(self, spark):
        """ADVICE r2: multi_probe near n_planes would silently enumerate
        2^n_planes buckets per query — must raise, not explode."""
        emb = spark.createDataFrame([Row(vec_id=0, embedding=[1.0] * 16)])
        with pytest.raises(ValueError, match="probe buckets"):
            similarity.lsh_topk(
                emb, emb, dim=16, k=1, n_planes=16, multi_probe=16
            )


class TestAsofJoin:
    def _frames(self, spark):
        import datetime

        t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)
        left = spark.createDataFrame(
            [
                Row(k="a", ts=t(10), lv="L10"),
                Row(k="a", ts=t(20), lv="L20"),
                Row(k="b", ts=t(15), lv="L15"),
                Row(k="c", ts=t(5), lv="L5"),    # no right rows for c
                Row(k=None, ts=t(30), lv="Lnull"),
            ]
        )
        right = spark.createDataFrame(
            [
                Row(k="a", ts=t(10), rv="R10"),   # equal-ts: must match L10
                Row(k="a", ts=t(18), rv="R18"),
                Row(k="b", ts=t(25), rv="R25"),   # after L15: backward misses
                Row(k=None, ts=t(1), rv="Rnull"), # null key must never match
            ]
        )
        return left, right

    def test_backward_inclusive(self, spark):
        from gohangout_spark.functions.joins import asof_join

        left, right = self._frames(spark)
        out = {
            (r["k"], r["lv"]): r["rv"]
            for r in asof_join(left, right, "k", direction="backward").collect()
        }
        assert out[("a", "L10")] == "R10"   # ts equality matches
        assert out[("a", "L20")] == "R18"   # latest at-or-before
        assert out[("b", "L15")] is None    # only future right rows
        assert out[("c", "L5")] is None     # no right rows
        assert out[(None, "Lnull")] is None # null key never matches

    def test_forward_tolerance_inner(self, spark):
        from gohangout_spark.functions.joins import asof_join

        left, right = self._frames(spark)
        fwd = {
            (r["k"], r["lv"]): r["rv"]
            for r in asof_join(left, right, "k", direction="forward").collect()
        }
        assert fwd[("a", "L10")] == "R10"
        assert fwd[("a", "L20")] is None    # nothing at-or-after 20 for a
        assert fwd[("b", "L15")] == "R25"
        # tolerance 5s: b's match is 10s away -> voided
        tol = {
            (r["k"], r["lv"]): r["rv"]
            for r in asof_join(
                left, right, "k", direction="forward", tolerance_seconds=5
            ).collect()
        }
        assert tol[("b", "L15")] is None
        inner = asof_join(left, right, "k", direction="backward", how="inner")
        assert sorted(r["lv"] for r in inner.collect()) == ["L10", "L20"]

    def test_collision_suffix_and_right_ts(self, spark):
        """Right ts column collides with left's -> suffixed; usable for gap
        computation."""
        from gohangout_spark.functions.joins import asof_join

        left, right = self._frames(spark)
        out = asof_join(left, right, "k")
        assert "ts_right" in out.columns and "rv" in out.columns
        row = {r["lv"]: r for r in out.collect()}["L20"]
        assert row["ts_right"].second == 18

    def test_no_theta_join_in_plan(self, spark):
        from gohangout_spark.functions.joins import asof_join

        left, right = self._frames(spark)
        plan = asof_join(left, right, "k")._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_asof_select_tolerance_needs_payload_ts(self, spark):
        """A prepared union whose __pay omits the right timestamp serves an
        untolerant match, and is refused once a tolerance is set."""
        from gohangout_spark.functions.joins import asof_select

        left, right = self._frames(spark)
        u = left.select(
            "k", "ts", "lv", F.col("ts").alias("__ats"),
            F.lit(None).cast("struct<rv:string>").alias("__pay"), F.lit(0).alias("__r"),
        ).unionByName(right.where("k IS NOT NULL").select(
            "k", F.lit(None).cast("timestamp").alias("ts"), F.lit(None).cast("string").alias("lv"),
            F.col("ts").alias("__ats"), F.struct("rv").alias("__pay"), F.lit(1).alias("__r"),
        ))
        args = (["k"], ["k", "ts", "lv"], ["rv"], "ts", "ts_right", "backward")
        out = {r["lv"]: r["rv"] for r in asof_select(u, *args, None, "left").collect()}
        assert out["L20"] == "R18"
        with pytest.raises(ValueError, match="ts_right"):
            asof_select(u, *args, 5, "left")


class TestRangeJoin:
    def _frames(self, spark):
        import datetime

        t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)
        points = spark.createDataFrame(
            [
                Row(k="u", ts=t(0), pid=0),    # == start: inclusive
                Row(k="u", ts=t(30), pid=1),   # inside
                Row(k="u", ts=t(40), pid=2),   # == end: EXCLUDED (half-open)
                Row(k="u", ts=t(50), pid=3),   # outside
                Row(k="v", ts=t(30), pid=4),   # other key
            ]
        )
        ivals = spark.createDataFrame(
            [Row(k="u", start=t(0), end=t(40), iid=100)]
        )
        return points, ivals

    @pytest.mark.parametrize("bucket", [7, 40, 1000])
    def test_half_open_semantics_any_bucket(self, spark, bucket):
        """Bucket width must not change results — including widths that
        split the interval across many buckets and widths larger than it."""
        from gohangout_spark.functions.joins import range_join

        points, ivals = self._frames(spark)
        out = range_join(
            points, ivals, "k", "ts", "start", "end", bucket_seconds=bucket
        )
        assert sorted(r["pid"] for r in out.collect()) == [0, 1]
        assert all(r["iid"] == 100 for r in out.collect())

    def test_left_keeps_unmatched(self, spark):
        from gohangout_spark.functions.joins import range_join

        points, ivals = self._frames(spark)
        out = range_join(
            points, ivals, "k", "ts", "start", "end", bucket_seconds=60, how="left"
        )
        got = {r["pid"]: r["iid"] for r in out.collect()}
        assert got == {0: 100, 1: 100, 2: None, 3: None, 4: None}

    def test_collision_rejected(self, spark):
        from gohangout_spark.functions.joins import range_join

        points, ivals = self._frames(spark)
        with pytest.raises(ValueError, match="collide"):
            range_join(
                points,
                ivals.withColumnRenamed("iid", "pid"),
                "k", "ts", "start", "end", bucket_seconds=60,
            )


class TestSemanticDedup:
    def test_label_clusters_exact(self, spark):
        """Drop rule verified against a brute-force Python reimplementation
        on synthetic vectors with known near-duplicates."""
        import numpy as np

        rng = np.random.default_rng(7)
        base = rng.normal(size=(6, 8))
        rows = []
        vid = 0
        for cluster in range(3):
            for i in range(2):
                v = base[cluster * 2 + i]
                rows.append(Row(vec_id=vid, label=cluster,
                                embedding=[float(x) for x in v]))
                vid += 1
                # near-copy of each vector -> same cluster, cos ~ 1
                rows.append(Row(vec_id=vid, label=cluster,
                                embedding=[float(x) for x in v + 0.001]))
                vid += 1
        df = spark.createDataFrame(rows)
        from gohangout_spark.functions.similarity import semantic_dedup

        out = semantic_dedup(df, threshold=0.95, cluster_col="label")
        got = sorted(r["vec_id"] for r in out.collect())

        def cos(a, b):
            return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

        by_id = {r.vec_id: (r.label, np.array(r.embedding)) for r in rows}
        expect = [
            i for i, (lab, v) in sorted(by_id.items())
            if not any(
                lab2 == lab and j < i and cos(v, v2) >= 0.95
                for j, (lab2, v2) in by_id.items()
            )
        ]
        assert got == expect
        assert len(got) < len(rows)  # something was actually dropped

    def test_cross_cluster_pairs_survive(self, spark):
        """SemDeDup's documented approximation: a near-dup pair split across
        clusters is NOT dropped."""
        from gohangout_spark.functions.similarity import semantic_dedup

        v = [1.0, 0.0, 0.0, 0.0]
        df = spark.createDataFrame(
            [Row(vec_id=0, label=0, embedding=v),
             Row(vec_id=1, label=1, embedding=list(v))]
        )
        out = semantic_dedup(df, threshold=0.9, cluster_col="label")
        assert sorted(r["vec_id"] for r in out.collect()) == [0, 1]

    def test_kmeans_path_sound(self, spark):
        """k-means path: survivors contain no lower-id ≥threshold neighbor
        within their assigned cluster (soundness), and every dropped id HAS
        one (completeness) — checked by recomputing pairs from the output's
        own cluster assignment."""
        import itertools

        import numpy as np

        rng = np.random.default_rng(11)
        # 3 well-separated blobs of 10, each with duplicated members
        rows = []
        vid = 0
        for c in range(3):
            center = np.zeros(8)
            center[c] = 10.0
            for _ in range(5):
                v = center + rng.normal(scale=0.01, size=8)
                for _ in range(2):  # pairs of near-identical vectors
                    rows.append(Row(vec_id=vid, embedding=[float(x) for x in v]))
                    vid += 1
        df = spark.createDataFrame(rows)
        from gohangout_spark.functions.similarity import semantic_dedup

        out = semantic_dedup(df, threshold=0.999, n_centroids=3, n_iter=2,
                             id_col="vec_id")
        survivors = {r["vec_id"]: r["cluster"] for r in out.collect()}
        assert 0 < len(survivors) < len(rows)

        def cos(a, b):
            return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

        vecs = {r.vec_id: np.array(r.embedding) for r in rows}
        # soundness within the produced clustering
        for i, j in itertools.combinations(sorted(survivors), 2):
            if survivors[i] == survivors[j]:
                assert cos(vecs[i], vecs[j]) < 0.999, (i, j)

    def test_no_cartesian_in_plan(self, spark):
        from gohangout_spark.functions.similarity import semantic_dedup

        df = spark.createDataFrame(
            [Row(vec_id=i, label=i % 2, embedding=[float(i), 1.0]) for i in range(8)]
        )
        plan = (
            semantic_dedup(df, threshold=0.99, cluster_col="label")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_lazy_by_default_no_persisted_frames(self, spark):
        """VERDICT r3 #2: building the dedup plan must neither trigger a
        Spark job nor leave persisted/checkpointed blocks behind — same
        contract as minhash_lsh_candidates. Compute-once comes from the
        self-join reusing one exchange, not from a cache."""
        from gohangout_spark.functions.similarity import semantic_dedup

        df = spark.createDataFrame(
            [Row(vec_id=i, label=i % 3, embedding=[float(i % 5), 1.0, 0.5])
             for i in range(30)]
        )
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        out = semantic_dedup(df, threshold=0.95, cluster_col="label")
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
        out.collect()
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan

    def test_materialize_optin_releases_cache(self, spark):
        from gohangout_spark.functions.similarity import semantic_dedup

        df = spark.createDataFrame(
            [Row(vec_id=i, label=0, embedding=[1.0, float(i)]) for i in range(6)]
        )
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        out = semantic_dedup(df, threshold=0.999, cluster_col="label",
                             materialize=True)
        # the corpus-sized pair cache is released inside the call; only the
        # (tiny) localCheckpointed dup-id set stays pinned — the documented
        # opt-in tradeoff
        assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before + 1
        assert out.count() == 6


class TestAsofJoinNulls:
    def test_null_left_ts_never_matches(self, spark):
        """SQL comparison semantics: NULL left timestamp matches nothing in
        either direction (forward previously risked 'seeing' all rights)."""
        import datetime

        from gohangout_spark.functions.joins import asof_join

        t = datetime.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [Row(k="a", ts=None, lid=0), Row(k="a", ts=t, lid=1)],
            schema="k string, ts timestamp, lid long",
        )
        right = spark.createDataFrame([Row(k="a", ts=t, rid=9)])
        for direction in ("backward", "forward"):
            got = {
                r["lid"]: r["rid"]
                for r in asof_join(left, right, "k", direction=direction).collect()
            }
            assert got[0] is None, (direction, got)
            assert got[1] == 9

    def test_reserved_columns_rejected(self, spark):
        import datetime

        import pytest as _pytest

        from gohangout_spark.functions.joins import asof_join

        t = datetime.datetime(2024, 1, 1)
        left = spark.createDataFrame([Row(k="a", ts=t, __ats=1)])
        right = spark.createDataFrame([Row(k="a", ts=t, rid=9)])
        with _pytest.raises(ValueError, match="internals"):
            asof_join(left, right, "k")

    def test_null_right_ts_never_matches(self, spark):
        """A right row with NULL timestamp must never be the match — it
        would otherwise sort first ascending and propagate to left rows
        with no real earlier match (review finding, reproduced)."""
        import datetime

        from gohangout_spark.functions.joins import asof_join

        t = datetime.datetime(2024, 1, 1)
        left = spark.createDataFrame([Row(k="a", ts=t, lid=0)])
        right = spark.createDataFrame(
            [Row(k="a", ts=None, rid=9)], schema="k string, ts timestamp, rid long"
        )
        for direction in ("backward", "forward"):
            rows = asof_join(left, right, "k", direction=direction).collect()
            assert rows[0]["rid"] is None, (direction, rows)
            inner = asof_join(left, right, "k", direction=direction, how="inner")
            assert inner.count() == 0


class TestSearch:
    """BM25 / tf-idf keyword search (functions/search.py)."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (1, "spark spark spark window"),
            (2, "spark window window join batch"),
            (3, "vector vector spark"),
            (4, "table join batch line row"),
            (5, "the quick brown fox"),
            (6, ""),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_query_terms_dedup_order(self):
        from gohangout_spark.functions.search import query_terms

        assert query_terms("Spark, window; SPARK window!") == ["spark", "window"]
        assert query_terms("  ") == []

    def test_bm25_ranks_tf_and_rarity(self, corpus):
        from gohangout_spark.functions.search import bm25_topk

        got = bm25_topk(corpus, "spark vector", id_col="doc_id", k=10).collect()
        ids = [r.doc_id for r in got]
        # doc 3 has the rare term twice; doc 1 has the common term thrice
        assert ids[0] == 3
        assert set(ids) == {1, 2, 3}  # zero-score docs excluded
        scores = [r.score for r in got]
        assert scores == sorted(scores, reverse=True)

    def test_bm25_stats_reuse_identical(self, corpus):
        from gohangout_spark.functions.search import bm25_topk, corpus_stats, query_terms

        terms = query_terms("spark join")
        st = corpus_stats(corpus, terms, id_col="doc_id")
        a = bm25_topk(corpus, "spark join", id_col="doc_id", k=10).collect()
        b = bm25_topk(corpus, "spark join", id_col="doc_id", k=10, stats=st).collect()
        assert a == b
        assert st["n"] == 6 and st["df"] == [3, 2]

    def test_bm25_empty_query_raises(self, corpus):
        from gohangout_spark.functions.search import bm25_topk

        with pytest.raises(ValueError):
            bm25_topk(corpus, "...", id_col="doc_id")

    def test_tfidf_length_normalizes(self, corpus):
        from gohangout_spark.functions.search import tfidf_topk

        got = tfidf_topk(corpus, "join", id_col="doc_id", k=10).collect()
        # docs 2 and 4 each contain "join" once and have 5 tokens -> equal
        # score, id-ascending tie-break
        assert [r.doc_id for r in got] == [2, 4]
        assert got[0].score == got[1].score

    def test_scan_plan_no_shuffle_no_python(self, corpus):
        from gohangout_spark.functions.search import bm25_topk, corpus_stats, query_terms

        terms = query_terms("spark window")
        st = corpus_stats(corpus, terms, id_col="doc_id")
        plan = bm25_topk(
            corpus, "spark window", id_col="doc_id", k=5, stats=st
        )._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan  # scoring pass is shuffle-free
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestBloomDecontaminate:
    """Bloom n-gram decontamination (curation.py): superset-of-exact,
    bounded false-positive rate, distributed build correctness."""

    @pytest.fixture(scope="class")
    def frames(self, spark):
        import random

        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(200)]
        mk = lambda k: " ".join(rng.choice(vocab) for _ in range(k))  # noqa: E731
        ev_rows = [(i, mk(12)) for i in range(20)]
        # corpus: 30 clean docs + 10 that embed an eval 4-gram verbatim
        corpus_rows = [(100 + i, mk(15)) for i in range(30)]
        for i in range(10):
            ev_text = ev_rows[i][1].split()
            corpus_rows.append((200 + i, mk(5) + " " + " ".join(ev_text[3:7]) + " " + mk(5)))
        ev = spark.createDataFrame(ev_rows, "doc_id long, text string")
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        return ev, corpus

    def test_superset_of_exact_and_planted_found(self, frames):
        from gohangout_spark.functions.curation import (
            bloom_decontaminate,
            build_ngram_bloom,
            decontaminate_ngrams,
        )

        ev, corpus = frames
        bloom = build_ngram_bloom(ev, n=4, fp_rate=1e-4)
        got = bloom_decontaminate(corpus, bloom, n=4)
        exact = decontaminate_ngrams(corpus, ev, n=4)
        g = {r.doc_id: r.contaminated for r in got.collect()}
        e = {r.doc_id: r.contaminated for r in exact.collect()}
        assert set(g) == set(e)
        # no false negatives ever
        assert all(g[d] for d in e if e[d])
        # planted overlaps flagged
        assert all(g[200 + i] for i in range(10))
        # fp bound: at fp_rate 1e-4 over ~12 grams/doc, expect zero extras
        extras = [d for d in g if g[d] and not e[d]]
        assert len(extras) == 0

    def test_bloom_membership_exact_on_inserted(self, spark):
        import numpy as np

        from gohangout_spark.functions.curation import build_ngram_bloom

        ev = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "p q r s t u v w")],
            "doc_id long, text string",
        )
        bloom = build_ngram_bloom(ev, n=4, fp_rate=1e-3)
        from pyspark.sql import functions as F  # noqa: N812

        from gohangout_spark.functions.curation import _word_ngrams

        hashes = (
            ev.select(F.explode(_word_ngrams(F.col("text"), 4, hashed=True)).alias("h"))
            .toPandas()["h"]
            .to_numpy(dtype=np.int64)
        )
        assert bloom.might_contain(hashes).all()

    def test_md5_twin_matches_exact_and_pins_size(self, spark, frames):
        """The md5-keyed replayable variant (r6 hash gate): pinned (m, k)
        land in the bloom verbatim, and at a large m the flags equal the
        exact path's on the fixture (superset guarantee + zero fp)."""
        from gohangout_spark.functions.curation import (
            bloom_decontaminate,
            build_ngram_bloom,
            decontaminate_ngrams,
        )

        ev, corpus = frames
        bloom = build_ngram_bloom(ev, n=4, hashed="md5", size=(65536, 3))
        assert (bloom.m, bloom.k) == (65536, 3)
        got = {
            r.doc_id: r.contaminated
            for r in bloom_decontaminate(corpus, bloom, n=4, hashed="md5").collect()
        }
        exact = {
            r.doc_id: r.contaminated
            for r in decontaminate_ngrams(corpus, ev, n=4).collect()
        }
        assert set(got) == set(exact)
        assert all(got[d] for d in exact if exact[d])  # no false negatives
        assert [d for d in got if got[d] and not exact[d]] == []

    def test_empty_and_short_docs_clean(self, spark, frames):
        from gohangout_spark.functions.curation import (
            bloom_decontaminate,
            build_ngram_bloom,
        )

        ev, _ = frames
        bloom = build_ngram_bloom(ev, n=4)
        docs = spark.createDataFrame(
            [(1, ""), (2, None), (3, "one two three")], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in bloom_decontaminate(docs, bloom, n=4).collect()}
        assert all(not rows[d].contaminated and rows[d].contam_hits == 0 for d in (1, 2, 3))


class TestDupSpans:
    """Exact-substring (duplicated w-token window) stats and removal."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        shared = "alpha beta gamma delta epsilon"  # 5-token span planted twice
        rows = [
            (1, f"one two three {shared} four five six"),
            (2, f"seven eight {shared} nine ten eleven twelve"),
            (3, "unique words only here nothing repeats at all"),
            (4, "short doc"),
            (5, ""),
            (6, "rep rep rep rep rep rep rep rep rep rep"),  # self-repeating
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_stats_plant_detected(self, corpus):
        from gohangout_spark.functions.dedup import dup_span_stats

        rows = {r.doc_id: r for r in dup_span_stats(corpus, w=5).collect()}
        assert rows[1].n_dup_windows >= 1 and rows[2].n_dup_windows >= 1
        assert rows[3].n_dup_windows == 0
        assert rows[4].n_windows == 0 and rows[4].dup_window_ratio is None
        assert rows[5].n_windows == 0
        # within-doc repetition counts too: all 6 windows of doc 6 identical
        assert rows[6].n_dup_windows == rows[6].n_windows == 6
        assert rows[6].dup_window_ratio == 1.0

    def test_removal_strips_both_copies(self, corpus):
        from gohangout_spark.functions.dedup import remove_dup_spans

        rows = {r.doc_id: r.text_clean for r in remove_dup_spans(corpus, w=5).collect()}
        for d in (1, 2):
            for tok in ("alpha", "beta", "gamma", "delta", "epsilon"):
                assert tok not in rows[d].split(), (d, rows[d])
        # unduplicated context survives
        assert "one" in rows[1].split() and "twelve" in rows[2].split()
        # untouched docs pass through token-normalized
        assert rows[3] == "unique words only here nothing repeats at all"
        assert rows[4] == "short doc"
        assert rows[5] == ""
        assert rows[6] == ""  # fully self-duplicated collapses

    def test_rerun_stats_on_clean_finds_planted_gone(self, spark, corpus):
        from gohangout_spark.functions.dedup import dup_span_stats, remove_dup_spans

        clean = remove_dup_spans(corpus, w=5).select(
            "doc_id", F.col("text_clean").alias("text")
        )
        rows = {r.doc_id: r for r in dup_span_stats(clean, w=5).collect()}
        assert all(r.n_dup_windows == 0 for r in rows.values())

    def test_no_cartesian_in_plan(self, corpus):
        from gohangout_spark.functions.dedup import remove_dup_spans

        plan = remove_dup_spans(corpus, w=5)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_pandas_variant_identical(self, spark, corpus):
        """VERDICT r3 #4: the Arrow rewrite (numpy difference-array
        coverage) must match the interpreted-HOF path doc-for-doc —
        including the worst case the HOF is quadratic on: a long doc whose
        windows are ALL duplicated."""
        from gohangout_spark.functions.dedup import (
            remove_dup_spans,
            remove_dup_spans_pandas,
        )

        a = {r.doc_id: r.text_clean for r in remove_dup_spans(corpus, w=5).collect()}
        b = {r.doc_id: r.text_clean
             for r in remove_dup_spans_pandas(corpus, w=5).collect()}
        assert a == b

        # pathological: two long identical docs -> every window duplicated,
        # |starts| == |windows| ~ |tokens|; both variants must empty both
        long_text = " ".join(f"w{i % 7}" for i in range(400))
        worst = spark.createDataFrame(
            [(1, long_text), (2, long_text), (3, "fresh unseen words only")],
            "doc_id long, text string",
        )
        pa = {r.doc_id: r.text_clean
              for r in remove_dup_spans(worst, w=5).collect()}
        pb = {r.doc_id: r.text_clean
              for r in remove_dup_spans_pandas(worst, w=5).collect()}
        assert pa == pb
        assert pb[1] == "" and pb[2] == ""
        assert pb[3] == "fresh unseen words only"


class TestCharLM:
    """Char-bigram LM perplexity (functions/lm.py)."""

    @pytest.fixture(scope="class")
    def model(self, spark):
        from gohangout_spark.functions.lm import fit_char_bigram_lm

        ref = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog " * 3) for i in range(5)],
            "doc_id long, text string",
        )
        return fit_char_bigram_lm(ref)

    def test_model_shape_and_normalization(self, model):
        import math

        from gohangout_spark.functions.lm import V

        assert len(model) == V * V
        assert all(lp < 0 for lp in model)
        # each context row is a proper distribution: sum of exp(logp) == 1
        for i1 in range(V):
            row = model[i1 * V : (i1 + 1) * V]
            assert abs(sum(math.exp(lp) for lp in row) - 1.0) < 1e-9

    def test_fluent_text_scores_lower(self, spark, model):
        from gohangout_spark.functions.lm import perplexity

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "zxq jvw qqq xkz wvz jjj qzx"),  # junk under this model
                (3, "x"),  # single char -> NULL
                (4, None),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r.ppl for r in perplexity(docs, model).collect()}
        assert rows[1] < rows[2]
        assert rows[3] is None and rows[4] is None

    def test_buckets_cover_and_fixed_cutoffs(self, spark, model):
        from gohangout_spark.functions.lm import perplexity_buckets

        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(
                ["the quick brown fox", "lazy dog over the", "qqq zzz xxx",
                 "jumps jumps jumps", "zxv wvq", ""]
            )],
            "doc_id long, text string",
        )
        out = perplexity_buckets(docs, model, cutoffs=(8.0, 20.0))
        rows = {r.doc_id: r.ppl_bucket for r in out.collect()}
        assert set(rows.values()) <= {"head", "middle", "tail"}
        assert rows[5] == "tail"  # NULL ppl

    def test_buckets_all_null_ppl(self, spark, model):
        """ADVICE r3: when EVERY doc has NULL ppl approxQuantile returns []
        — must short-circuit to all-'tail', not raise."""
        from gohangout_spark.functions.lm import perplexity_buckets

        docs = spark.createDataFrame(
            [(1, ""), (2, "x"), (3, None)], "doc_id long, text string"
        )
        rows = {r.doc_id: r.ppl_bucket
                for r in perplexity_buckets(docs, model).collect()}
        assert rows == {1: "tail", 2: "tail", 3: "tail"}

    def test_score_plan_is_scanside(self, spark, model):
        from gohangout_spark.functions.lm import perplexity

        docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        plan = perplexity(docs, model)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_model_length_validated(self, spark):
        from gohangout_spark.functions.lm import perplexity

        docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        with pytest.raises(ValueError):
            perplexity(docs, [0.0] * 10)


class TestKneserNey:
    """Interpolated KN word-bigram perplexity (lm.kneser_ney_score),
    cross-checked against an independent plain-Python reimplementation of
    the textbook formula (Chen & Goodman 1999 eq. interpolated KN) — same
    role audioop plays for the ADPCM/G.711 codecs."""

    @staticmethod
    def _reference_ppl(corpus: dict[int, str], discount: float = 0.75):
        import math
        import re
        from collections import Counter

        toks = {
            d: [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
            for d, t in corpus.items()
        }
        bg = Counter()
        for ws in toks.values():
            bg.update(zip(ws, ws[1:]))
        c_v = Counter()
        n1_fwd = Counter()
        n1_back = Counter()
        for (v, w), c in bg.items():
            c_v[v] += c
            n1_fwd[v] += 1
            n1_back[w] += 1
        t_types = len(bg)
        out = {}
        for d, ws in toks.items():
            pairs = list(zip(ws, ws[1:]))
            if not pairs:
                out[d] = (0, None)
                continue
            nll = 0.0
            for v, w in pairs:
                p = (
                    max(bg[(v, w)] - discount, 0.0)
                    + discount * n1_fwd[v] * (n1_back[w] / t_types)
                ) / c_v[v]
                nll -= math.log(p)
            out[d] = (
                len(pairs),
                math.floor(math.exp(nll / len(pairs)) * 1e4 + 0.5) / 1e4,
            )
        return out

    def test_matches_reference_implementation(self, spark):
        from gohangout_spark.functions.lm import kneser_ney_score

        corpus = {
            1: "the cat sat on the mat",
            2: "the dog sat on the log",
            3: "a cat and a dog and a rat",
            4: "the the the the",  # repeated-token degenerate
            5: "solo",  # 1 token -> no bigrams
            6: "",  # empty -> no bigrams
            7: "San Francisco! san-francisco; SAN FRANCISCO",
        }
        docs = spark.createDataFrame(
            list(corpus.items()), "doc_id long, text string"
        )
        got = {
            r.doc_id: (r.n_bigrams, r.ppl)
            for r in kneser_ney_score(docs).collect()
        }
        want = self._reference_ppl(corpus)
        assert set(got) == set(want)
        for d in want:
            assert got[d][0] == want[d][0], d
            if want[d][1] is None:
                assert got[d][1] is None, d
            else:
                assert got[d][1] == pytest.approx(want[d][1], abs=2e-4), d

    def test_probabilities_sum_to_one_per_context(self, spark):
        """Interpolated KN must yield a proper conditional distribution:
        for a context v, sum over OBSERVED continuations of the discounted
        term plus the full redistributed mass equals 1 when the
        continuation distribution is restricted to the observed bigram
        vocabulary (which it is, by construction, when scoring = training
        corpus)."""
        import math
        from collections import Counter
        import re

        corpus = {
            1: "the cat sat on the mat",
            2: "the dog sat on the log",
            3: "a cat and a dog and a rat",
        }
        toks = {
            d: [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
            for d, t in corpus.items()
        }
        bg = Counter()
        for ws in toks.values():
            bg.update(zip(ws, ws[1:]))
        c_v, n1_fwd, n1_back = Counter(), Counter(), Counter()
        for (v, w), c in bg.items():
            c_v[v] += c
            n1_fwd[v] += 1
            n1_back[w] += 1
        t_types = len(bg)
        vocab = set(n1_back)
        for v in c_v:
            total = sum(
                (
                    max(bg.get((v, w), 0) - 0.75, 0.0)
                    + 0.75 * n1_fwd[v] * (n1_back[w] / t_types)
                )
                / c_v[v]
                for w in vocab
            )
            assert abs(total - 1.0) < 1e-9, v

    def test_discount_bounds(self, spark):
        from gohangout_spark.functions.lm import kneser_ney_score

        docs = spark.createDataFrame(
            [(1, "a b a b a c")], "doc_id long, text string"
        )
        # all probabilities must be in (0, 1]: finite positive perplexity
        row = kneser_ney_score(docs).collect()[0]
        assert row.n_bigrams == 5 and row.ppl is not None and row.ppl >= 1.0


class TestUnigramTokenizer:
    """Unigram-LM Viterbi segmentation (bpe.unigram_segment_word /
    unigram_encode_stats): DP argmin cross-checked against brute-force
    enumeration of ALL segmentations, tie-break pinned by hand."""

    def test_dp_equals_bruteforce(self):
        import itertools
        import random

        from gohangout_spark.functions.bpe import (
            UNIGRAM_DEMO_VOCAB,
            unigram_segment_word,
        )

        costs = dict(UNIGRAM_DEMO_VOCAB)
        max_len = max(len(p) for p in costs)

        def brute(word):
            best = None
            # all compositions of len(word) into parts of size 1..max_len
            def rec(pos, parts, cost):
                nonlocal best
                if pos == len(word):
                    t = (cost, " ".join(parts))
                    if best is None or t < best:
                        best = t
                    return
                for ln in range(1, min(max_len, len(word) - pos) + 1):
                    piece = word[pos : pos + ln]
                    if piece in costs:
                        rec(pos + ln, parts + [piece], cost + costs[piece])

            rec(0, [], 0)
            return (best[1], best[0]) if best else None

        rng = random.Random(11)
        words = ["the", "reiterating", "quantification", "doc42ment", "a",
                 "information", "x9z"]
        words += ["".join(rng.choice("abcdefgiqru0") for _ in range(rng.randint(1, 10)))
                  for _ in range(40)]
        for w in words:
            assert unigram_segment_word(w, costs, max_len) == brute(w), w

    def test_known_segmentations_and_tiebreak(self):
        from gohangout_spark.functions.bpe import unigram_segment_word

        costs = dict([("the", 40), ("er", 38)] + [(c, 50) for c in "abcdehrst"])
        assert unigram_segment_word("the", costs, 3) == ("the", 40)
        assert unigram_segment_word("thees", costs, 3) == ("the e s", 140)
        # equal-cost tie: 'ab' as 'a b' is the only option; craft a real
        # tie -- two 2-char pieces with cost == two singles
        tie = dict([("ab", 100), ("cd", 100)] + [(c, 50) for c in "abcd"])
        # 'abcd': 'ab cd' (200), 'a b cd' (200), 'ab c d' (200), 'a b c d'
        # (200) all tie at 200 -> lexicographically smallest path wins
        got = unigram_segment_word("abcd", tie, 2)
        assert got == ("a b c d", 200)

    def test_unsegmentable_raises_in_encode(self, spark):
        import pytest as _pytest

        from gohangout_spark.functions.bpe import unigram_encode_stats

        docs = spark.createDataFrame([(1, "zzz")], "doc_id long, text string")
        vocab = [("a", 50)]  # no 'z' coverage
        with _pytest.raises(Exception, match="unsegmentable"):
            unigram_encode_stats(docs, vocab).collect()

    def test_stats_shape_and_hash(self, spark):
        import hashlib

        from gohangout_spark.functions.bpe import unigram_encode_stats

        docs = spark.createDataFrame(
            [(1, "The THE the!"), (2, ""), (3, None)], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in unigram_encode_stats(docs).collect()}
        assert rows[1].n_pieces == 3 and rows[1].total_cost == 120
        assert rows[1].pieces_hash == hashlib.md5(b"the the the").hexdigest()
        empty = hashlib.md5(b"").hexdigest()
        for d in (2, 3):
            assert rows[d].n_pieces == 0 and rows[d].total_cost == 0
            assert rows[d].pieces_hash == empty


class TestDsir:
    """DSIR hashed n-gram importance log-weights (sampling.dsir_logweights),
    cross-checked against an independent plain-Python replay of the
    paper's formula (hashed bag-of-ngrams bucket models, add-one
    smoothing, instance-weighted log ratio)."""

    CORPUS = {
        1: ("en", "the quick brown fox jumps over the lazy dog"),
        2: ("en", "the cat sat on the mat and the dog sat too"),
        3: ("xx", "zorp blik vump qats nerl zorp blik"),
        4: ("xx", "the quick cat and the lazy fox"),  # target-like non-target
        5: ("xx", ""),  # featureless
    }

    @classmethod
    def _reference(cls, k=1024):
        import hashlib
        import math
        import re
        from collections import Counter

        def bucket(feat):
            return int(hashlib.md5(feat.encode()).hexdigest()[:8], 16) % k

        feats = {}
        for d, (_lang, text) in cls.CORPUS.items():
            ws = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
            feats[d] = [bucket(f) for f in ws + [
                f"{a} {b}" for a, b in zip(ws, ws[1:])
            ]]
        ct, cr = Counter(), Counter()
        for d, bs in feats.items():
            cr.update(bs)
            if cls.CORPUS[d][0] == "en":
                ct.update(bs)
        nt, nr = sum(ct.values()), sum(cr.values())
        out = {}
        for d, bs in feats.items():
            if not bs:
                out[d] = (0, None)
                continue
            lw = sum(
                math.log((ct[b] + 1.0) / (nt + k)) - math.log((cr[b] + 1.0) / (nr + k))
                for b in bs
            )
            out[d] = (len(bs), math.floor(lw * 1e4 + 0.5) / 1e4)
        return out

    def test_matches_reference_implementation(self, spark):
        from gohangout_spark.functions.sampling import dsir_logweights
        from pyspark.sql import functions as F

        docs = spark.createDataFrame(
            [(d, lang, text) for d, (lang, text) in self.CORPUS.items()],
            "doc_id long, lang string, text string",
        )
        got = {
            r.doc_id: (r.n_feats, r.logw)
            for r in dsir_logweights(docs, F.col("lang") == "en").collect()
        }
        want = self._reference()
        assert set(got) == set(want)
        for d in want:
            assert got[d][0] == want[d][0], d
            if want[d][1] is None:
                assert got[d][1] is None, d
            else:
                assert got[d][1] == pytest.approx(want[d][1], abs=2e-4), d

    def test_target_like_docs_score_higher(self, spark):
        from gohangout_spark.functions.sampling import dsir_logweights
        from pyspark.sql import functions as F

        docs = spark.createDataFrame(
            [(d, lang, text) for d, (lang, text) in self.CORPUS.items()],
            "doc_id long, lang string, text string",
        )
        rows = {
            r.doc_id: r.logw
            for r in dsir_logweights(docs, F.col("lang") == "en").collect()
        }
        # per-feature average so length doesn't dominate the comparison
        want = self._reference()
        per_feat = {d: rows[d] / want[d][0] for d in rows if want[d][0]}
        # the out-of-domain doc must rank below every in-target doc, and
        # the target-like non-target doc must beat the gibberish one
        assert per_feat[3] < min(per_feat[1], per_feat[2])
        assert per_feat[4] > per_feat[3]


class TestBoilerplate:
    """Line-wise boilerplate removal (curation.remove_boilerplate_lines)."""

    def test_rules(self, spark):
        from gohangout_spark.functions.curation import remove_boilerplate_lines

        docs = spark.createDataFrame(
            [
                (1, "HOME LOGIN SIGNUP\nthis is a fine sentence.\nplease enable javascript now."),
                (2, "too short\nanother good line of real content here."),
                (3, ""),
                (4, None),
                (5, "ALL CAPS NAV MENU BAR f\nx"),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in remove_boilerplate_lines(docs).collect()}
        assert rows[1].n_lines == 3 and rows[1].n_kept == 1
        assert rows[1].text_clean == "this is a fine sentence."
        assert rows[2].n_lines == 2 and rows[2].n_kept == 1
        assert rows[3].n_lines == 0 and rows[3].text_clean == ""
        assert rows[4].text_clean == ""
        # caps ratio 17/18 > 0.8 -> shouting line dropped; "x" too short
        assert rows[5].n_kept == 0

    def test_terminal_punct_opt_in(self, spark):
        from gohangout_spark.functions.curation import remove_boilerplate_lines

        docs = spark.createDataFrame(
            [(1, "a sentence that ends properly.\na sentence that does not end")],
            "doc_id long, text string",
        )
        strict = remove_boilerplate_lines(docs, require_terminal_punct=True).first()
        loose = remove_boilerplate_lines(docs).first()
        assert strict.n_kept == 1 and loose.n_kept == 2

    def test_plan_scanside(self, spark):
        from gohangout_spark.functions.curation import remove_boilerplate_lines

        docs = spark.createDataFrame([(1, "abc def ghi")], "doc_id long, text string")
        plan = remove_boilerplate_lines(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPerplexityPandasEquivalence:
    def test_identical_to_expr_path(self, spark):
        from gohangout_spark.functions.lm import (
            fit_char_bigram_lm,
            perplexity,
            perplexity_pandas,
        )

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "pack my box with five dozen liquor jugs"),
                (3, "zxq jvw qqq"),
                (4, "x"),
                (5, None),
                (6, ""),
            ],
            "doc_id long, text string",
        )
        model = fit_char_bigram_lm(docs.limit(2))
        a = {r.doc_id: r.ppl for r in perplexity(docs, model).collect()}
        b = {r.doc_id: r.ppl for r in perplexity_pandas(docs, model).collect()}
        assert a == b
        assert a[4] is None and a[5] is None and a[6] is None


class TestGroupCentroids:
    def test_means_and_counts(self, spark):
        from gohangout_spark.functions.similarity import group_centroids

        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (0, [3.0, 4.0]), (1, [10.0, 20.0])],
            "label int, embedding array<double>",
        )
        rows = {r.label: r for r in group_centroids(df, dim=2).collect()}
        assert rows[0].n == 2 and rows[0].centroid == [2.0, 3.0]
        assert rows[1].n == 1 and rows[1].centroid == [10.0, 20.0]

    def test_null_vectors_not_counted(self, spark):
        """ADVICE r3: n is centroid SUPPORT — NULL vectors contribute
        nothing to the means and must not inflate the count."""
        from gohangout_spark.functions.similarity import group_centroids

        df = spark.createDataFrame(
            [(0, [1.0, 3.0]), (0, None), (0, [3.0, 5.0])],
            "label int, embedding array<double>",
        )
        r = group_centroids(df, dim=2).first()
        assert r.n == 2
        assert r.centroid == [2.0, 4.0]

    def test_dim_inferred_and_empty_raises(self, spark):
        from gohangout_spark.functions.similarity import group_centroids

        df = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0])], "label int, embedding array<double>"
        )
        assert len(group_centroids(df).first().centroid) == 3
        empty = df.where("label = 99")
        with pytest.raises(ValueError):
            group_centroids(empty)

    def test_single_shuffle_plan(self, spark):
        from gohangout_spark.functions.similarity import group_centroids

        df = spark.createDataFrame(
            [(0, [1.0, 2.0])], "label int, embedding array<double>"
        )
        plan = group_centroids(df, dim=2)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 1
        assert "Generate" not in plan  # no explode


class TestAudioSpectrum:
    def test_dominant_bins_and_roundtrip(self, spark):
        from gohangout_spark.functions.multimodal import (
            extract_audio_spectrum,
            make_sine_wav_media_table,
        )

        media = make_sine_wav_media_table(spark, n=6)
        rows = {r.media_id: r for r in extract_audio_spectrum(media).collect()}
        for i in range(6):
            k = 16 + 8 * (i % 10)
            assert rows[i].dominant_bin == k
            assert rows[i].n_samples == 1024
            assert abs(rows[i].dominant_freq_hz - k * 16000 / 1024) < 1e-9


class TestFuzzyMatch:
    """Guaranteed-recall edit-distance matching (joins.fuzzy_match_values)."""

    def test_matches_brute_force_including_short(self, spark):
        from gohangout_spark.functions.joins import fuzzy_match_values

        vals = ["cat", "cot", "c", "ct", "elephant", "elephants", "elphant",
                "zebra", "zebr", None, "ca"]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        got = {
            (r.left_val, r.right_val, r.dist)
            for r in fuzzy_match_values(df, df, "s", "s", max_dist=2).collect()
        }

        import itertools

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
            return dp[-1]

        clean = [v for v in set(vals) if v is not None]
        want = {
            (a, b, lev(a, b))
            for a, b in itertools.product(clean, clean)
            if lev(a, b) <= 2
        }
        assert got == want  # recall AND precision exact, incl. short block

    def test_plan_has_no_cross_join(self, spark):
        from gohangout_spark.functions.joins import fuzzy_match_values

        df = spark.createDataFrame([("abcdef",), ("abcdeg",)], "s string")
        plan = (
            fuzzy_match_values(df, df, "s", "s", max_dist=2)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan

    def test_hot_gram_length_prefilter(self, spark):
        """VERDICT r3 #6: a q-gram shared by every value ("th") must not
        pair values whose lengths already rule out a match — the candidate
        set stays bounded while the verified output is unchanged."""
        from gohangout_spark.functions.joins import (
            _fuzzy_candidates,
            fuzzy_match_values,
        )

        # every value contains the hot gram "th"; lengths span 6..26 so
        # most cross pairs are length-impossible at k=2
        vals = ["theory" + "x" * i for i in range(0, 21, 2)]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        n_cand = _fuzzy_candidates(df, df, "s", "s", max_dist=2, q=2).count()
        # without the prefilter the hot gram alone yields all 11*11 = 121
        # pairs; with it only |len diff| <= 2 survive: 11 + 2*10 = 31
        assert n_cand == 31
        got = {
            (r.left_val, r.right_val, r.dist)
            for r in fuzzy_match_values(df, df, "s", "s", max_dist=2).collect()
        }
        want = {
            (a, b, abs(len(a) - len(b)))
            for a in vals
            for b in vals
            if abs(len(a) - len(b)) <= 2
        }
        assert got == want


class TestDeterministicShuffle:
    def test_contiguous_layout_independent(self, spark):
        from gohangout_spark.functions.sampling import deterministic_shuffle

        df = spark.createDataFrame([(i,) for i in range(97)], "doc_id long")
        a = {r.doc_id: r.train_idx for r in deterministic_shuffle(df).collect()}
        b = {
            r.doc_id: r.train_idx
            for r in deterministic_shuffle(df.repartition(7)).collect()
        }
        assert a == b  # layout-independent
        assert sorted(a.values()) == list(range(97))  # contiguous 0-based
        # actually shuffled: not identity order
        assert [a[i] for i in range(97)] != list(range(97))

    def test_seed_changes_order(self, spark):
        from gohangout_spark.functions.sampling import deterministic_shuffle

        df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
        a = {r.doc_id: r.train_idx for r in deterministic_shuffle(df, seed=1).collect()}
        b = {r.doc_id: r.train_idx for r in deterministic_shuffle(df, seed=2).collect()}
        assert a != b

    def test_no_single_task_window(self, spark):
        from gohangout_spark.functions.sampling import deterministic_shuffle

        df = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
        plan = deterministic_shuffle(df)._jdf.queryExecution().executedPlan().toString()
        # the only SinglePartition exchange allowed is the partition-COUNT
        # running sum (metadata-sized); the data path is range-partitioned
        assert "rangepartitioning" in plan.lower()


class TestBpeTokenCount:
    def test_splits_contractions_digits_punct(self, spark):
        from gohangout_spark.functions.text import bpe_token_count

        df = spark.createDataFrame(
            [
                (1, "it's 2024, isn't it? well--ok"),  # 11 pretokens
                (2, ""),
                (3, None),
                (4, "plain words here"),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r.n for r in df.select(
            "doc_id", bpe_token_count(F.col("text")).alias("n")
        ).collect()}
        assert rows[1] == 11
        assert rows[2] == 0
        assert rows[3] in (None, -1)  # size(NULL) semantics
        assert rows[4] == 3


class TestWeightedSampleK:
    def test_deterministic_and_weight_sensitive(self, spark):
        from gohangout_spark.functions.sampling import weighted_sample_k

        rows = [(i, 100.0 if i < 5 else 1.0) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        a = {r.doc_id for r in weighted_sample_k(df, 10, "w").collect()}
        b = {r.doc_id for r in weighted_sample_k(df.repartition(5), 10, "w").collect()}
        assert a == b  # layout-independent
        # heavy items (w=100) should dominate a 10-of-100 draw
        assert len(a & {0, 1, 2, 3, 4}) >= 4

    def test_without_replacement_and_filters(self, spark):
        from gohangout_spark.functions.sampling import weighted_sample_k

        df = spark.createDataFrame(
            [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
            "doc_id long, w double",
        )
        got = [r.doc_id for r in weighted_sample_k(df, 10, "w").collect()]
        assert sorted(got) == [1, 5]  # nonpositive/NULL weights excluded
        assert len(got) == len(set(got))

    def test_frequency_tracks_weights(self, spark):
        """Across seeds, an item with 9x the weight is sampled (k=1) ~9x
        as often — the A-ES correctness property, coarsely."""
        from gohangout_spark.functions.sampling import weighted_sample_k

        df = spark.createDataFrame([(1, 9.0), (2, 1.0)], "doc_id long, w double")
        wins = sum(
            weighted_sample_k(df, 1, "w", seed=s).first().doc_id == 1
            for s in range(30)
        )
        assert wins >= 20  # E[wins]=27, loose floor


class TestProfile:
    def test_counts_and_minmax(self, spark):
        from gohangout_spark.functions.profile import profile

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "b"), (None, "a")], "k long, v string"
        )
        rows = {r.column: r for r in profile(df).collect()}
        assert rows["k"].n_rows == 4 and rows["k"].n_null == 1
        assert rows["k"].n_distinct == 2
        assert rows["k"].min_s == "1" and rows["k"].max_s == "2"
        assert rows["v"].n_distinct == 2 and rows["v"].n_null == 1

    def test_approx_mode_and_subset(self, spark):
        from gohangout_spark.functions.profile import profile

        df = spark.createDataFrame([(i, str(i)) for i in range(50)], "k long, v string")
        rows = profile(df, ["k"], exact_distinct=False).collect()
        assert len(rows) == 1
        assert abs(rows[0].n_distinct - 50) <= 5  # HLL tolerance


class TestChunkDocuments:
    def test_coverage_overlap_and_edges(self, spark):
        from gohangout_spark.functions.text import chunk_documents

        toks = " ".join(f"w{i}" for i in range(10))
        docs = spark.createDataFrame(
            [(1, toks), (2, "a b"), (3, ""), (4, None)],
            "doc_id long, text string",
        )
        rows = [
            r
            for r in chunk_documents(docs, chunk_tokens=8, overlap=2).collect()
        ]
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        # doc 1: starts 1 and 7 -> chunks of 8 and 4 tokens
        c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
        assert [r.n_chunk_tokens for r in c1] == [8, 4]
        assert c1[0].chunk_text.split()[-2:] == c1[1].chunk_text.split()[:2]  # overlap
        # every token covered
        covered = set()
        for r in c1:
            covered |= set(r.chunk_text.split())
        assert covered == set(toks.split())
        # short doc: single chunk
        assert [r.n_chunk_tokens for r in by_doc[2]] == [2]
        # empty/NULL docs: no chunks
        assert 3 not in by_doc and 4 not in by_doc

    def test_overlap_validation(self, spark):
        from gohangout_spark.functions.text import chunk_documents

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            chunk_documents(docs, chunk_tokens=8, overlap=8)


class TestWebdatasetExport:
    def test_shards_members_and_reproducibility(self, spark, tmp_path):
        import hashlib
        import tarfile

        from gohangout_spark.functions.export import write_webdataset_shards

        docs = spark.createDataFrame(
            [(i, f"text of {i}", "en") for i in range(25)] + [(99, None, "de")],
            "doc_id long, text string, lang string",
        )
        out1 = str(tmp_path / "wds1")
        m = {r.shard: r for r in write_webdataset_shards(
            docs, out1, docs_per_shard=10, meta_cols=["lang"]
        ).collect()}
        assert sorted(m) == [0, 1, 2]
        assert sum(r.n_docs for r in m.values()) == 26
        # members: paired .txt/.json, ordered by training index
        with tarfile.open(m[0].path) as tar:
            names = tar.getnames()
            assert len(names) == 20
            keys = [n.split(".")[0] for n in names[::2]]
            assert keys == sorted(keys)
            first_txt = tar.extractfile(names[0]).read().decode()
            assert first_txt.startswith("text of") or first_txt == ""
        # byte-for-byte reproducible
        out2 = str(tmp_path / "wds2")
        write_webdataset_shards(docs, out2, docs_per_shard=10, meta_cols=["lang"]).count()
        h = lambda p: hashlib.md5(open(p, "rb").read()).hexdigest()  # noqa: E731
        for shard, r in m.items():
            assert h(r.path) == h(r.path.replace("wds1", "wds2")), shard

    def test_null_text_empty_member(self, spark, tmp_path):
        import tarfile

        from gohangout_spark.functions.export import write_webdataset_shards

        docs = spark.createDataFrame([(1, None)], "doc_id long, text string")
        m = write_webdataset_shards(docs, str(tmp_path / "w")).first()
        with tarfile.open(m.path) as tar:
            assert tar.extractfile(tar.getnames()[0]).read() == b""

    def test_numeric_meta_stays_numeric(self, spark, tmp_path):
        """ADVICE r3: int64/double meta columns must land in the .json
        members as JSON numbers, not strings — dataloaders round-trip the
        types."""
        import json
        import tarfile

        from gohangout_spark.functions.export import write_webdataset_shards

        docs = spark.createDataFrame(
            [(1, "t", 5, 0.25, "en")],
            "doc_id long, text string, n_tok long, score double, lang string",
        )
        m = write_webdataset_shards(
            docs, str(tmp_path / "w"), meta_cols=["n_tok", "score", "lang"]
        ).first()
        with tarfile.open(m.path) as tar:
            meta = json.loads(
                tar.extractfile(
                    [n for n in tar.getnames() if n.endswith(".json")][0]
                ).read()
            )
        assert meta == {"n_tok": 5, "score": 0.25, "lang": "en"}
        assert isinstance(meta["n_tok"], int)
        assert isinstance(meta["score"], float)


class TestBPE:
    """In-engine BPE training + scan-side encoding (functions/bpe.py)."""

    def test_classic_corpus_merges(self):
        from gohangout_spark.functions.bpe import END, bpe_merges_from_counts

        # Sennrich-style toy vocabulary
        counts = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
        merges = bpe_merges_from_counts(counts, 4)
        # 'es' appears in newest+widest = 9 times -> first merge is (e, s)
        assert merges[0] == ("e", "s")
        assert merges[1] == ("es", "t" + END)

    def test_train_and_encode_roundtrip(self, spark):
        from gohangout_spark.functions.bpe import (
            END,
            bpe_encode_udf,
            train_bpe,
        )

        docs = spark.createDataFrame(
            [(i, "low low lower newest newest widest") for i in range(4)],
            "doc_id long, text string",
        )
        merges = train_bpe(docs, n_merges=10)
        assert merges == train_bpe(docs, n_merges=10)  # deterministic
        enc = docs.limit(1).select(
            bpe_encode_udf(merges)(F.col("text")).alias("toks")
        ).first()["toks"]
        # concatenating tokens reconstructs the words with end markers
        joined = "".join(enc)
        assert joined == "low</w>low</w>lower</w>newest</w>newest</w>widest</w>"
        # frequent words collapse to few symbols
        assert "low" + END in enc or "low" in enc

    def test_encode_matches_training_segmentation(self, spark):
        """Encoding the training corpus with the learned table yields
        exactly the segmentation training ended with (rank order ==
        discovery order)."""
        from gohangout_spark.functions.bpe import (
            _encode_word,
            bpe_merges_from_counts,
        )

        counts = [("aaab", 3), ("aab", 2), ("ab", 7)]
        merges = bpe_merges_from_counts(counts, 5)
        ranks = {tuple(m): i for i, m in enumerate(merges)}
        for w, _ in counts:
            # this word's training-final symbols: apply merges in order
            syms = tuple(list(w[:-1]) + [w[-1] + "</w>"])
            for a, b in merges:
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = tuple(out)
            assert _encode_word(w, ranks) == list(syms), w

    def test_null_and_empty(self, spark):
        from gohangout_spark.functions.bpe import bpe_encode_udf

        docs = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
        rows = {r.doc_id: r.toks for r in docs.select(
            "doc_id", bpe_encode_udf([("a", "b")])(F.col("text")).alias("toks")
        ).collect()}
        assert rows[1] is None and rows[2] == []

    def test_max_vocab_cap_enforced(self, spark):
        """VERDICT r3 #5: the collect is bounded by contract. A cap that
        keeps every word whose pair mass matters leaves the merge table
        unchanged; the capped plan is a top-k, not a full collect."""
        from gohangout_spark.functions.bpe import train_bpe, word_counts

        docs = spark.createDataFrame(
            [(0, "low low low lower newest newest widest rare1"),
             (1, "low newest widest rare2 rare3")],
            "doc_id long, text string",
        )
        # 8 distinct words; the first 4 merges all have pair mass >= 4,
        # above anything the three singleton rare words contribute (<= 3),
        # so capping them away cannot change the learned table
        full = train_bpe(docs, n_merges=4, max_vocab=None)
        capped = train_bpe(docs, n_merges=4, max_vocab=4)
        assert capped == full
        # the cap plans as TakeOrdered (per-partition top-k), no full sort
        wc = word_counts(docs).orderBy(F.desc("n"), F.asc("word")).limit(4)
        plan = wc._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestFuzzyJoinRows:
    def test_row_join_with_collision_rename(self, spark):
        from gohangout_spark.functions.joins import fuzzy_join

        left = spark.createDataFrame(
            [(1, "widget"), (2, "gizmo")], "id long, name string"
        )
        right = spark.createDataFrame(
            [(10, "widgets"), (11, "gadget"), (12, "gizmo")], "id long, name string"
        )
        got = fuzzy_join(left, right, "name", "name", max_dist=1).collect()
        pairs = {(r.name, r.name_r, r.dist) for r in got}
        assert pairs == {("widget", "widgets", 1), ("gizmo", "gizmo", 0)}
        # both id columns survive
        assert {(r.id, r.id_r) for r in got} == {(1, 10), (2, 12)}


class TestHashedEmbeddings:
    def test_shape_determinism_and_similarity_signal(self, spark):
        from gohangout_spark.functions.similarity import hashed_embeddings

        docs = spark.createDataFrame(
            [
                (1, "spark window join batch table"),
                (2, "spark window join batch line"),   # near-dup of 1
                (3, "zebra quagga okapi gnu impala"),  # disjoint vocab
                (4, ""),
            ],
            "doc_id long, text string",
        )
        out = hashed_embeddings(docs, dim=32)
        rows = {r.doc_id: r.embedding for r in out.collect()}
        assert all(len(v) == 32 for v in rows.values())
        # normalized rows have unit norm (except the empty doc: zero vec)
        for d in (1, 2, 3):
            assert abs(sum(x * x for x in rows[d]) - 1.0) < 1e-9
        assert all(x == 0.0 for x in rows[4])
        dot = lambda a, b: sum(x * y for x, y in zip(a, b))  # noqa: E731
        assert dot(rows[1], rows[2]) > dot(rows[1], rows[3]) + 0.3
        # deterministic across layouts
        again = {r.doc_id: r.embedding for r in hashed_embeddings(
            docs.repartition(3), dim=32
        ).collect()}
        assert again == rows


class TestAnalytics:
    """Event analytics: z-score anomalies, funnels, cohort retention."""

    def test_funnel_requires_order(self, spark):
        import datetime as dt

        from gohangout_spark.functions.analytics import funnel_conversion

        t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
        rows = [
            # user 1: full ordered funnel
            (1, t(0), "signup"), (1, t(1), "click"), (1, t(2), "purchase"),
            # user 2: purchase BEFORE click -> stops at click
            (2, t(0), "signup"), (2, t(2), "click"), (2, t(1), "purchase"),
            # user 3: no signup -> never enters
            (3, t(0), "click"), (3, t(1), "purchase"),
            # user 4: signup only
            (4, t(0), "signup"),
        ]
        ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
        got = {r.step: r.n_users for r in funnel_conversion(
            ev, ["signup", "click", "purchase"]
        ).collect()}
        assert got == {"signup": 3, "click": 2, "purchase": 1}

    def test_funnel_same_timestamp_not_counted(self, spark):
        import datetime as dt

        from gohangout_spark.functions.analytics import funnel_conversion

        ev = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1), "a"), (1, dt.datetime(2024, 1, 1), "b")],
            "user_id long, ts timestamp, event_type string",
        )
        got = {r.step: r.n_users for r in funnel_conversion(ev, ["a", "b"]).collect()}
        assert got == {"a": 1, "b": 0}  # strictly-after semantics

    def test_zscore_flags_outlier_only(self, spark):
        from gohangout_spark.functions.analytics import zscore_anomalies

        rows = [(i, "t", 10.0) for i in range(20)] + [(99, "t", 1000.0)]
        ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        got = zscore_anomalies(ev, threshold=2.5).collect()
        assert [r.event_id for r in got] == [99]
        assert got[0].zscore > 2.5

    def test_cohort_offsets(self, spark):
        import datetime as dt

        from gohangout_spark.functions.analytics import cohort_retention

        # user 1 first seen week of Jan 1 (Mon), active again 2 weeks later;
        # user 2 first seen week of Jan 8
        ev = spark.createDataFrame(
            [
                (1, dt.datetime(2024, 1, 2)), (1, dt.datetime(2024, 1, 16)),
                (2, dt.datetime(2024, 1, 9)),
            ],
            "user_id long, ts timestamp",
        )
        got = {(r.cohort_week, r.week_offset): r.n_users
               for r in cohort_retention(ev).collect()}
        assert got == {
            ("2024-01-01", 0): 1,
            ("2024-01-01", 2): 1,
            ("2024-01-08", 0): 1,
        }


class TestSessionize:
    def test_gap_breaks_sessions(self, spark):
        import datetime as dt

        from gohangout_spark.functions.analytics import sessionize

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (1, 1, t0),
            (2, 1, t0 + dt.timedelta(minutes=10)),   # same session
            (3, 1, t0 + dt.timedelta(minutes=50)),   # 40-min gap -> new
            (4, 2, t0),                               # other user: own numbering
        ]
        ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
        got = {r.event_id: r.session_idx for r in sessionize(ev, gap_minutes=30).collect()}
        assert got == {1: 1, 2: 1, 3: 2, 4: 1}


class TestRebalance:
    def test_small_file_rebalanced_memory_df_untouched(self, spark, tmp_path):
        from gohangout_spark.io import rebalance_for_compute

        p = str(tmp_path / "one")
        spark.range(100).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        out = rebalance_for_compute(df, spark)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "roundrobin" in plan.lower()  # repartitioned
        mem = spark.range(10)
        assert rebalance_for_compute(mem, spark) is mem  # no files -> no-op


class TestBloomSmallFastPath:
    def test_small_build_equals_distributed(self, spark):
        import numpy as np

        from gohangout_spark.functions.curation import build_ngram_bloom

        ev = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}") for i in range(30)],
            "doc_id long, text string",
        )
        small = build_ngram_bloom(ev, n=3, fp_rate=1e-3)  # est << threshold
        big = build_ngram_bloom(ev, n=3, fp_rate=1e-3, expected_items=300_001)
        # different m (sized from different estimates) but both must accept
        # every inserted gram
        from pyspark.sql import functions as F  # noqa: N812

        from gohangout_spark.functions.curation import _word_ngrams

        hashes = (
            ev.select(F.explode(_word_ngrams(F.col("text"), 3, hashed=True)).alias("h"))
            .toPandas()["h"].to_numpy(dtype=np.int64)
        )
        assert small.might_contain(hashes).all()
        assert big.might_contain(hashes).all()


class TestRound4Analytics:
    """Markov transitions, RFM, top sequences, HLL validation (r4)."""

    @pytest.fixture(scope="class")
    def ev(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        seqs = {1: ["view", "click", "purchase", "view"],
                2: ["view", "view", "click"],
                3: ["click", "purchase"]}
        i = 0
        for u, types in seqs.items():
            for j, ty in enumerate(types):
                rows.append((i, t0 + dt.timedelta(minutes=i), u, ty,
                             10.0 * (u + j)))
                i += 1
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double"
        )

    def test_transition_matrix(self, ev):
        from gohangout_spark.functions.analytics import transition_matrix

        got = {(r.src, r.dst): (r.n, r.p) for r in transition_matrix(ev).collect()}
        # user1: view>click, click>purchase, purchase>view
        # user2: view>view, view>click ; user3: click>purchase
        assert got[("view", "click")][0] == 2
        assert got[("view", "view")][0] == 1
        assert got[("click", "purchase")] == (2, 1.0)
        assert got[("purchase", "view")] == (1, 1.0)
        # row-normalized: view row sums to 1
        assert abs(got[("view", "click")][1] + got[("view", "view")][1] - 1.0) < 1e-9

    def test_top_event_sequences(self, ev):
        from gohangout_spark.functions.analytics import top_event_sequences

        rows = top_event_sequences(ev, k=3, length=2).collect()
        as_map = {r.seq: r.n for r in rows}
        assert as_map["view>click"] == 2 and as_map["click>purchase"] == 2
        # ordered by n desc then seq asc
        assert [r.seq for r in rows[:2]] == ["click>purchase", "view>click"]

    def test_rfm_quartiles_cover(self, spark):
        import datetime as dt

        from gohangout_spark.functions.analytics import rfm_segments

        t0 = dt.datetime(2024, 1, 1)
        rows = [(i, t0 + dt.timedelta(days=i % 8), i % 8, "purchase",
                 float(100 - i)) for i in range(32)]
        ev = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double"
        )
        out = {r.user_id: r for r in rfm_segments(ev).collect()}
        assert len(out) == 8
        for r in out.values():
            assert 1 <= r.r <= 4 and 1 <= r.f <= 4 and 1 <= r.m <= 4
            assert r.segment == f"{r.r}{r.f}{r.m}"
        # 8 users / 4 tiles -> exactly 2 per recency tile
        from collections import Counter

        assert Counter(r.r for r in out.values()) == {1: 2, 2: 2, 3: 2, 4: 2}

    def test_rfm_matches_ntile_and_avoids_global_window(self, spark):
        """r5: quartiles are now distributed global_rank passes + the
        closed-form tile arithmetic. (a) output must stay bit-identical to
        the exact ntile formulation, including N % n_tiles != 0 and heavy
        ties; (b) the plan must not contain a global ntile window (the
        single-task shape the rewrite removes)."""
        import datetime as dt

        from pyspark.sql.window import Window as W

        from gohangout_spark.functions.analytics import rfm_segments

        t0 = dt.datetime(2024, 1, 1)
        # 13 users (13 % 4 != 0), tied frequencies and values
        rows = [
            (i, t0 + dt.timedelta(hours=i % 5), i % 13, "purchase",
             float(i % 3))
            for i in range(60)
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double"
        ).repartition(7)
        out_df = rfm_segments(ev)
        got = {r.user_id: (r.r, r.f, r.m) for r in out_df.collect()}

        per_user = (
            ev.where(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("freq"),
                 F.sum("value").alias("monetary"))
        )
        ref = {
            r.user_id: (r.r, r.f, r.m)
            for r in per_user.select(
                "user_id",
                F.ntile(4).over(
                    W.orderBy(F.desc("last_ts"), F.asc("user_id"))).alias("r"),
                F.ntile(4).over(
                    W.orderBy(F.desc("freq"), F.asc("user_id"))).alias("f"),
                F.ntile(4).over(
                    W.orderBy(F.desc("monetary"), F.asc("user_id"))).alias("m"),
            ).collect()
        }
        assert got == ref
        plan = out_df._jdf.queryExecution().executedPlan().toString()
        assert "ntile" not in plan
        assert "__pid" in plan  # the distributed-rank path is actually taken
        # r10: the three chained rank passes are ONE multi-key pass — the
        # executed plan must carry exactly one PHYSICAL range exchange
        # (one boundary-sampling job), not three. Count distinct
        # plan_ids: a shared AQE stage prints its Exchange once per
        # consumer, so a raw substring count sees reuse as duplication.
        import re

        final = plan.split("== Initial Plan ==")[0]
        ids = set(
            re.findall(
                r"Exchange rangepartitioning\([^)]*\)[^\[]*\[plan_id=(\d+)\]",
                final,
            )
        )
        assert len(ids) == 1, (ids, final)

    def test_global_ranks_desc_matches_chained_global_rank(self, spark):
        """The r10 multi-key rank pass must produce the same ranks as the
        three independent global_rank passes it replaces, including ties
        (broken by the ascending tiebreak) and a NULL key value."""
        from gohangout_spark.functions.sampling import (
            global_rank,
            global_ranks_desc,
        )

        rows = [
            (1, 10.0, 5, 100.0), (2, 10.0, 3, None), (3, 7.5, 3, 50.0),
            (4, 12.0, 9, 50.0), (5, 7.5, 1, 75.0), (6, 3.0, 9, 10.0),
            (7, 3.0, 2, 10.0),
        ]
        df = spark.createDataFrame(
            rows, "uid long, a double, b long, c double"
        ).repartition(3)
        got = {
            r.uid: (r.ra, r.rb, r.rc)
            for r in global_ranks_desc(
                df, ["a", "b", "c"], "uid", ["ra", "rb", "rc"], len(rows)
            ).collect()
        }
        ref = df
        for key, name in (("a", "ra"), ("b", "rb"), ("c", "rc")):
            ref = global_rank(ref, [F.desc(key), F.asc("uid")], name)
        want = {r.uid: (r.ra, r.rb, r.rc) for r in ref.collect()}
        assert got == want

    def test_approx_distinct_ok_on_small_groups(self, ev):
        from gohangout_spark.functions.analytics import approx_distinct_report

        rows = {r.event_type: r for r in approx_distinct_report(ev).collect()}
        # HLL is exact at these cardinalities -> hll_ok everywhere
        assert rows["view"].exact_distinct == 2 and rows["view"].hll_ok
        assert rows["purchase"].exact_distinct == 2 and rows["purchase"].hll_ok

    def test_approx_distinct_tolerance_is_3_sigma(self, spark):
        """The r9 sf0.1 FULLREG seam: rsd is the estimator's ONE-sigma
        deviation, so a 1x-rsd bound fails healthy estimates. At n=1500
        Spark's rsd=0.05 HLL lands ~6.7% off (between 1 and 3 sigma):
        the default bound must accept it, a 1-sigma override must not."""
        from gohangout_spark.functions.analytics import approx_distinct_report

        ev = spark.createDataFrame(
            [(u, "t") for u in range(1500)], "user_id long, event_type string"
        )
        row = approx_distinct_report(ev).collect()[0]
        assert row.exact_distinct == 1500 and row.hll_ok
        strict = approx_distinct_report(ev, tolerance=0.05).collect()[0]
        err = abs(1400 - 1500) / 1500  # the measured estimate at this n
        if err > 0.05:
            assert not strict.hll_ok


class TestLexicalDiversity:
    def test_counts_and_ratios(self, spark):
        from gohangout_spark.functions.curation import lexical_diversity

        docs = spark.createDataFrame(
            [(1, "a a a b"), (2, "x y z"), (3, ""), (4, None)],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in lexical_diversity(docs).collect()}
        assert rows[1].n_tokens == 4 and rows[1].n_types == 2
        assert rows[1].n_hapax == 1  # only 'b'
        assert rows[1].ttr == 0.5 and rows[1].hapax_ratio == 0.25
        assert rows[2].ttr == 1.0 and rows[2].hapax_ratio == 1.0
        for d in (3, 4):
            assert rows[d].n_tokens == 0 and rows[d].ttr is None


class TestFlesch:
    def test_known_values(self, spark):
        from gohangout_spark.functions.text import flesch_reading_ease

        docs = spark.createDataFrame(
            [(1, "The cat sat. The dog ran."),
             (2, ""), (3, None), (4, "word")],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r.f
            for r in docs.select(
                "doc_id", flesch_reading_ease(F.col("text")).alias("f")
            ).collect()
        }
        # 6 words, 2 sentences, 6 vowel groups -> 206.835 - 1.015*3 - 84.6*1
        assert rows[1] == round(206.835 - 1.015 * 3 - 84.6, 2)
        assert rows[2] is None and rows[3] is None
        # single word, no sentence punct: s=1, syl=1
        assert rows[4] == round(206.835 - 1.015 - 84.6, 2)


class TestInvertedIndex:
    def test_build_and_cap(self, spark):
        from gohangout_spark.functions.search import inverted_index

        docs = spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha gamma"), (3, "alpha beta"),
             (4, "alpha delta")],
            "doc_id long, text string",
        )
        rows = {r.term: r for r in inverted_index(
            docs, min_df=2, max_postings=3
        ).collect()}
        assert set(rows) == {"alpha", "beta"}  # df>=2 only
        assert rows["beta"].df == 2 and rows["beta"].postings == [1, 3]
        # hot term above the cap: df kept, postings never collected
        assert rows["alpha"].df == 4 and rows["alpha"].postings is None

    def test_uncapped_path(self, spark):
        from gohangout_spark.functions.search import inverted_index

        docs = spark.createDataFrame(
            [(1, "a b"), (2, "b a")], "doc_id long, text string"
        )
        rows = {r.term: r.postings for r in inverted_index(
            docs, min_df=1
        ).collect()}
        assert rows == {"a": [1, 2], "b": [1, 2]}


class TestWinnowing:
    def test_guarantee_and_sparsity(self, spark):
        """Any shared k+w-1 = 7-token run must share a fingerprint; the
        selected set stays well under the full gram count."""
        from gohangout_spark.functions.dedup import winnow_fingerprints

        shared = "one two three four five six seven"
        docs = spark.createDataFrame(
            [(1, f"aa bb {shared} cc dd"),
             (2, f"xx yy zz {shared} qq"),
             (3, "totally different words here and there again more")],
            "doc_id long, text string",
        )
        fps = winnow_fingerprints(docs, k=4, w=4)
        by_doc = {}
        for r in fps.collect():
            by_doc.setdefault(r.doc_id, set()).add(r.fp)
        assert by_doc[1] & by_doc[2]            # shared run detected
        assert not (by_doc[1] & by_doc[3])      # no false overlap
        # sparsity: selected <= grams, and short docs emit nothing
        short = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
        assert winnow_fingerprints(short, k=4, w=4).count() == 0

    def test_matches_reference_impl(self, spark):
        """Value-min winnowing reimplemented in pure Python over the same
        md5-prefix hashes — output must match row-for-row."""
        import hashlib
        import re as _re

        from gohangout_spark.functions.dedup import winnow_fingerprints

        texts = {1: "the quick brown fox jumps over the lazy dog today",
                 2: "pack my box with five dozen liquor jugs right now ok"}
        docs = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        k, w = 4, 4
        want = set()
        for d, t in texts.items():
            toks = [x for x in _re.split(r"[^a-z0-9]+", t.lower()) if x]
            hs = [hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()[:16]
                  for i in range(len(toks) - k + 1)]
            for i in range(len(hs) - w + 1):
                want.add((d, min(hs[i:i + w])))
        got = {(r.doc_id, r.fp) for r in winnow_fingerprints(docs, k=k, w=w).collect()}
        assert got == want


class TestSaltedAgg:
    def test_matches_plain_groupby(self, spark):
        from gohangout_spark.functions.skew import salted_agg

        df = spark.createDataFrame(
            [(i, "hot" if i % 10 else "cold", i * 1.0) for i in range(200)],
            "id long, key string, v double",
        )
        got = {r.key: r for r in salted_agg(
            df, ["key"],
            {"n": ("count", "id"), "mn": ("min", "v"), "mx": ("max", "v"),
             "s": ("sum", "id")},
        ).collect()}
        want = {r.key: r for r in df.groupBy("key").agg(
            F.count("id").alias("n"), F.min("v").alias("mn"),
            F.max("v").alias("mx"), F.sum("id").alias("s"),
        ).collect()}
        for k in want:
            for c in ("n", "mn", "mx", "s"):
                assert got[k][c] == want[k][c], (k, c)


class TestHeavyHitters:
    def test_exact_on_skewed(self, spark):
        from gohangout_spark.functions.sketch import heavy_hitters

        rows = (
            [("hot",)] * 100 + [("warm",)] * 40 + [("mild",)] * 40
            + [(f"cold{i}",) for i in range(50)] + [(None,)] * 5
        )
        df = spark.createDataFrame(rows, "v string").repartition(8)
        got = [(r.v, r.n) for r in heavy_hitters(df, "v", k=3).collect()]
        assert got == [("hot", 100), ("mild", 40), ("warm", 40)]  # tie: value asc

    def test_tiny_m_still_finds_dominant(self, spark):
        """MG bound: a value with frequency > N/(m+1) must survive even
        when m is far below the distinct count."""
        from gohangout_spark.functions.sketch import heavy_hitters

        rows = [("dominant",)] * 400 + [(f"u{i}",) for i in range(300)]
        df = spark.createDataFrame(rows, "v string").repartition(4)
        top = heavy_hitters(df, "v", k=1, m=8).collect()
        assert top[0].v == "dominant" and top[0].n == 400

    def test_plan_has_no_full_domain_shuffle(self, spark):
        from gohangout_spark.functions.sketch import heavy_hitters

        df = spark.createDataFrame([("a",), ("b",)], "v string")
        plan = heavy_hitters(df, "v")._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan


class TestCompactFiles:
    def test_many_small_to_few(self, spark, tmp_path):
        from gohangout_spark.io import compact_files

        src = str(tmp_path / "small")
        spark.range(10000).selectExpr("id", "id * 2 AS v").repartition(
            40
        ).write.parquet(src)
        dst = str(tmp_path / "compact")
        stats = compact_files(spark, src, dst, target_file_mb=256)
        assert stats["files_before"] == 40
        assert stats["files_after"] == 1  # well under one target file
        # content identical
        a = sorted(r.id for r in spark.read.parquet(src).collect())
        b = sorted(r.id for r in spark.read.parquet(dst).collect())
        assert a == b


def test_file_source_orc_roundtrip(spark, tmp_path):
    """FileSource/FileSink pass the format through — ORC (built-in) works
    end to end, not just parquet/json/csv/text."""
    from gohangout_spark.sinks.sinks import FileSink
    from gohangout_spark.sources.sources import FileSource

    df = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s")
    out = str(tmp_path / "orc_out")
    FileSink({"path": out, "format": "orc"}).write_batch(df)
    back = FileSource({"path": out, "format": "orc"}).batch(spark)
    assert back.count() == 100
    assert {f.name for f in back.schema.fields} == {"id", "s"}


class TestClassifier:
    def test_train_then_scanside_score_separates(self, spark):
        """Distributed MLlib training -> weights as plan literals -> the
        scan-side scorer must rank positive-vocabulary docs above
        negative-vocabulary docs."""
        from gohangout_spark.functions.classify import (
            score_documents,
            train_text_classifier,
        )

        pos_words = ["excellent", "clear", "insightful", "thorough"]
        neg_words = ["spam", "click", "buy", "winner"]
        rows = []
        for i in range(60):
            w = pos_words if i % 2 == 0 else neg_words
            text = " ".join(w[(i + j) % 4] for j in range(12))
            rows.append((i, text, i % 2 == 0))
        docs = spark.createDataFrame(rows, "doc_id long, text string, good boolean")
        weights, bias = train_text_classifier(docs, "good", dim=32, max_iter=30)
        assert len(weights) == 32
        # scoring path is pure Columns (no Python); normalize defaults to
        # True to MATCH training (code-review r4: unnormalized scoring
        # scales the logit by ||v|| against a fixed bias)
        scored = score_documents(docs, weights, bias).join(
            docs.select("doc_id", "good"), "doc_id"
        )
        rows2 = scored.collect()
        pos = [r.score for r in rows2 if r.good]
        neg = [r.score for r in rows2 if not r.good]
        assert min(pos) > max(neg)

    def test_score_plan_is_scanside(self, spark):
        from gohangout_spark.functions.classify import score_documents

        docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        plan = (
            score_documents(docs, [0.1] * 16)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_sigmoid_and_raw(self, spark):
        from gohangout_spark.functions.classify import linear_score_col

        df = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
        row = df.select(
            linear_score_col(F.col("v"), [0.5, 0.25], 0.0, sigmoid=False).alias("z"),
            linear_score_col(F.col("v"), [0.5, 0.25], 0.0).alias("p"),
        ).first()
        assert row.z == 1.0
        import math

        assert abs(row.p - 1 / (1 + math.exp(-1.0))) < 1e-12


class TestWinnowNearDup:
    def test_planted_overlap_found(self, spark):
        from gohangout_spark.functions.dedup import winnow_neardup_pairs

        shared = " ".join(f"s{i}" for i in range(20))
        docs = spark.createDataFrame(
            [(1, f"intro words {shared} outro one"),
             (2, f"other beginning {shared} different end"),
             (3, "nothing in common with the others at all here")],
            "doc_id long, text string",
        )
        pairs = {(r.id_a, r.id_b): r.n_shared
                 for r in winnow_neardup_pairs(docs, min_shared=2).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] >= 2
        assert not any(3 in p for p in pairs)

    def test_no_cartesian(self, spark):
        from gohangout_spark.functions.dedup import winnow_neardup_pairs

        docs = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f g h")],
            "doc_id long, text string",
        )
        plan = (
            winnow_neardup_pairs(docs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan


class TestPartitionedMutation:
    @staticmethod
    def _part_files(path):
        import glob
        import os

        out = {}
        for d in glob.glob(os.path.join(path, "day=*")):
            files = sorted(
                (f, os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
                if not f.startswith((".", "_"))
            )
            out[os.path.basename(d)] = files
        return out

    def test_upsert_rewrites_only_touched_partitions(self, spark, tmp_path):
        from gohangout_spark.io import upsert_partitioned

        tgt = str(tmp_path / "tbl")
        spark.createDataFrame(
            [(i, f"d{i % 3}", f"v{i}") for i in range(30)],
            "id long, day string, val string",
        ).withColumn("day", F.concat(F.lit("day"), F.col("day"))
        ).write.partitionBy("day").parquet(tgt)
        before = self._part_files(tgt)

        updates = spark.createDataFrame(
            [(0, "dayd0", "UPDATED"), (999, "dayd0", "NEW")],
            "id long, day string, val string",
        )
        stats = upsert_partitioned(spark, tgt, updates, ["id"], "day")
        assert stats == {"touched_partitions": 1, "upserted_rows": 2}

        after = self._part_files(tgt)
        # untouched partitions byte-untouched (same files, same mtimes)
        assert after["day=dayd1"] == before["day=dayd1"]
        assert after["day=dayd2"] == before["day=dayd2"]
        rows = {r.id: r.val for r in spark.read.parquet(tgt).collect()}
        assert rows[0] == "UPDATED" and rows[999] == "NEW"
        assert len(rows) == 31
        assert rows[3] == "v3"  # other d0 keys kept

    def test_delete_rows(self, spark, tmp_path):
        from gohangout_spark.io import delete_rows_partitioned

        tgt = str(tmp_path / "tbl2")
        spark.createDataFrame(
            [(i, f"day{i % 2}", i * 1.0) for i in range(20)],
            "id long, day string, v double",
        ).write.partitionBy("day").parquet(tgt)
        keys = spark.createDataFrame(
            [(4, "day0"), (6, "day0")], "id long, day string"
        )
        stats = delete_rows_partitioned(spark, tgt, keys, ["id"], "day")
        assert stats == {
            "touched_partitions": 1,
            "deleted_rows": 2,
            "emptied_partitions": 0,
        }
        ids = sorted(r.id for r in spark.read.parquet(tgt).collect())
        assert 4 not in ids and 6 not in ids and len(ids) == 18

    def test_delete_every_row_of_a_partition_removes_its_files(
        self, spark, tmp_path
    ):
        """Regression (r5): dynamic overwrite only rewrites partitions
        present in the surviving data, so deleting ALL of a partition's
        rows used to leave its old files on disk and readable — a silent
        retention failure for the GDPR primitive. The partition directory
        must be gone afterwards."""
        import os

        from gohangout_spark.io import delete_rows_partitioned

        tgt = str(tmp_path / "tbl3")
        spark.createDataFrame(
            [(i, f"day{i % 2}", i * 1.0) for i in range(20)],
            "id long, day string, v double",
        ).write.partitionBy("day").parquet(tgt)
        # every day0 row (ids 0,2,...,18), plus one day1 row
        keys = spark.createDataFrame(
            [(i, "day0") for i in range(0, 20, 2)] + [(1, "day1")],
            "id long, day string",
        )
        stats = delete_rows_partitioned(spark, tgt, keys, ["id"], "day")
        assert stats == {
            "touched_partitions": 2,
            "deleted_rows": 11,
            "emptied_partitions": 1,
        }
        assert not os.path.exists(os.path.join(tgt, "day=day0"))
        rows = spark.read.parquet(tgt).collect()
        ids = sorted(r.id for r in rows)
        assert ids == [3, 5, 7, 9, 11, 13, 15, 17, 19]
        assert all(r.day == "day1" for r in rows)

    def test_emptied_partition_with_escaped_chars_is_removed(
        self, spark, tmp_path
    ):
        """Regression (r6, ADVICE r5): Spark percent-escapes special
        chars (':', '=', '%', ...) in partition directory names, so the
        emptied-partition delete must escape the value the same way —
        a raw f-string path never matches the on-disk dir and the old
        files silently survive."""
        import os

        from gohangout_spark.io import delete_rows_partitioned

        tgt = str(tmp_path / "tbl4")
        hot = "a:b=c%d"  # ':' '=' '%' all escaped by the writer
        spark.createDataFrame(
            [(1, hot, 1.0), (2, hot, 2.0), (3, "plain", 3.0)],
            "id long, day string, v double",
        ).write.partitionBy("day").parquet(tgt)
        # sanity: the writer escaped the dir name
        dirs = [d for d in os.listdir(tgt) if d.startswith("day=")]
        assert "day=a%3Ab%3Dc%25d" in dirs, dirs
        keys = spark.createDataFrame(
            [(1, hot), (2, hot)], "id long, day string"
        )
        stats = delete_rows_partitioned(spark, tgt, keys, ["id"], "day")
        assert stats["emptied_partitions"] == 1
        assert not os.path.exists(os.path.join(tgt, "day=a%3Ab%3Dc%25d"))
        rows = spark.read.parquet(tgt).collect()
        assert [(r.id, r.day) for r in rows] == [(3, "plain")]

    def test_null_partition_values_rejected(self, spark, tmp_path):
        """isin(parts) never matches NULL, so null-partition keys/updates
        would silently mis-handle the null partition; both mutators must
        reject them up front."""
        import pytest

        from gohangout_spark.io import (
            delete_rows_partitioned,
            upsert_partitioned,
        )

        tgt = str(tmp_path / "tbl4")
        spark.createDataFrame(
            [(1, "day0", 1.0)], "id long, day string, v double"
        ).write.partitionBy("day").parquet(tgt)
        null_keys = spark.createDataFrame(
            [(1, None)], "id long, day string"
        )
        with pytest.raises(ValueError, match="NULL partition"):
            delete_rows_partitioned(spark, tgt, null_keys, ["id"], "day")
        null_updates = spark.createDataFrame(
            [(1, None, 2.0)], "id long, day string, v double"
        )
        with pytest.raises(ValueError, match="NULL partition"):
            upsert_partitioned(spark, tgt, null_updates, ["id"], "day")


class TestWebpLossless:
    """REAL VP8L decode/encode — canonical Huffman, transforms, LZ77,
    color cache, meta-Huffman. Roundtrips through the encoder; the
    decode-only paths are pinned by hand-assembled bitstreams."""

    @staticmethod
    def _codec():
        from gohangout_spark.functions.webp import WebpLosslessCodec

        return WebpLosslessCodec()

    @staticmethod
    def _wrap(body_bw, w, h):
        """RIFF/WEBP/VP8L wrapper around hand-assembled body bits."""
        import struct

        from gohangout_spark.functions.webp import _BitWriter

        full = _BitWriter()
        full.put_bits(w - 1, 14)
        full.put_bits(h - 1, 14)
        full.put_bits(0, 1)
        full.put_bits(0, 3)
        full._bits += body_bw._bits
        payload = b"\x2f" + full.bytes()
        vp8l = b"VP8L" + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            vp8l += b"\x00"
        return b"RIFF" + struct.pack("<I", 4 + len(vp8l)) + b"WEBP" + vp8l

    def test_roundtrip_rgb_rgba(self):
        import numpy as np

        codec = self._codec()
        rng = np.random.RandomState(11)
        rgb = rng.randint(0, 256, size=(13, 17, 3), dtype=np.uint8)
        out = codec.decode(codec.encode(rgb))
        assert np.array_equal(out[..., :3], rgb) and (out[..., 3] == 255).all()
        rgba = rng.randint(0, 256, size=(7, 5, 4), dtype=np.uint8)
        assert np.array_equal(codec.decode(codec.encode(rgba)), rgba)

    def test_subtract_green_transform(self):
        import numpy as np

        codec = self._codec()
        rng = np.random.RandomState(3)
        rgb = rng.randint(0, 256, size=(6, 9, 3), dtype=np.uint8)
        enc = codec.encode(rgb, subtract_green=True)
        assert np.array_equal(codec.decode(enc)[..., :3], rgb)
        # the transform stream must actually be smaller-or-equal alphabet
        # use: it IS a different bitstream than the plain encode
        assert enc != codec.encode(rgb)

    def test_palette_packing_all_widths(self):
        import numpy as np

        codec = self._codec()
        rng = np.random.RandomState(5)
        # 2 colors -> 8 px/byte, 4 colors -> 4 px/byte, 16 colors -> 2
        for ncol, shape in [(2, (9, 11)), (4, (3, 4)), (16, (6, 7))]:
            colors = rng.randint(0, 256, size=(ncol, 3), dtype=np.uint8)
            img = colors[rng.randint(0, ncol, size=shape)]
            out = codec.decode(codec.encode(img, palette=True))
            assert np.array_equal(out[..., :3], img), ncol

    def test_lz77_backward_reference(self):
        """Hand-assembled stream: literals A, B then a length-6 distance-2
        backref (via the close-neighbor map) reconstructs ABABABAB."""
        import numpy as np

        from gohangout_spark.functions.webp import _BitWriter, _canonical_codes

        codec = self._codec()
        A = dict(a=0xFF, r=10, g=20, b=30)
        B = dict(a=0xFF, r=40, g=50, b=60)
        bw = _BitWriter()
        bw.put_bits(0, 1)  # no transforms
        bw.put_bits(0, 1)  # no cache
        bw.put_bits(0, 1)  # no meta
        # green tree: {gA:2, gB:2, 260:1} (260 = length-prefix 4)
        glens = [0] * 280
        glens[A["g"]], glens[B["g"]], glens[260] = 2, 2, 1
        codec._write_normal_code(bw, glens)
        gcodes = _canonical_codes(glens)
        # red / blue / alpha trees: two symbols at length 1 (or single)
        rlens = [0] * 256
        rlens[A["r"]], rlens[B["r"]] = 1, 1
        codec._write_normal_code(bw, rlens)
        rcodes = _canonical_codes(rlens)
        blens = [0] * 256
        blens[A["b"]], blens[B["b"]] = 1, 1
        codec._write_normal_code(bw, blens)
        bcodes = _canonical_codes(blens)
        codec._write_single_code(bw, 0xFF)  # alpha
        # distance tree: single symbol prefix 4 (-> dcode 5 with extra 0)
        codec._write_single_code(bw, 4)

        def lit(px):
            c, l = gcodes[px["g"]]
            bw.put_code(c, l)
            c, l = rcodes[px["r"]]
            bw.put_code(c, l)
            c, l = bcodes[px["b"]]
            bw.put_code(c, l)

        lit(A)
        lit(B)
        # green symbol 260: length prefix 4 -> 5..6 with 1 extra bit; 6 = bit 1
        c, l = gcodes[260]
        bw.put_code(c, l)
        bw.put_bits(1, 1)
        # distance: tree yields prefix 4 (0 bits), extra bit 1 -> dcode 6
        bw.put_bits(1, 1)
        # dcode 6 maps to (dx=2, dy=0) -> dist 2 (xsize=8); spec table
        # order (kCodeToPlane): (0,1),(1,0),(1,1),(-1,1),(0,2),(2,0),...
        from gohangout_spark.functions.webp import _DIST_MAP

        assert _DIST_MAP[0] == (0, 1)
        assert _DIST_MAP[4] == (0, 2)
        assert _DIST_MAP[5] == (2, 0)
        assert _DIST_MAP[96] == (8, 0)
        assert _DIST_MAP[119] == (8, 7)
        out = codec.decode(self._wrap(bw, 8, 1))
        exp = np.array(
            [[ (p["r"], p["g"], p["b"], p["a"])
               for p in [A, B, A, B, A, B, A, B] ]], dtype=np.uint8)
        assert np.array_equal(out, exp)

    def test_color_cache(self):
        """Literal inserts into the hash cache; later pixels fetch it by
        cache symbol (green >= 280)."""
        import numpy as np

        from gohangout_spark.functions.webp import (
            _BitWriter, _cache_key, _canonical_codes,
        )

        codec = self._codec()
        a, r, g, b = 0xFF, 77, 88, 99
        argb = (a << 24) | (r << 16) | (g << 8) | b
        cache_bits = 4
        key = _cache_key(argb, cache_bits)
        bw = _BitWriter()
        bw.put_bits(0, 1)  # no transforms
        bw.put_bits(1, 1)  # cache on
        bw.put_bits(cache_bits, 4)
        bw.put_bits(0, 1)  # no meta
        glens = [0] * (280 + (1 << cache_bits))
        glens[g], glens[280 + key] = 1, 1
        codec._write_normal_code(bw, glens)
        gcodes = _canonical_codes(glens)
        codec._write_single_code(bw, r)
        codec._write_single_code(bw, b)
        codec._write_single_code(bw, a)
        codec._write_single_code(bw, 0)  # distance, unused
        c, l = gcodes[g]
        bw.put_code(c, l)  # literal (r/b/a cost 0 bits: single-symbol trees)
        for _ in range(3):
            c, l = gcodes[280 + key]
            bw.put_code(c, l)
        out = codec.decode(self._wrap(bw, 4, 1))
        exp = np.tile(np.array([r, g, b, a], dtype=np.uint8), (1, 4, 1))
        assert np.array_equal(out, exp)

    def test_predictor_transform_left_mode(self):
        """Mode-1 (left) predictor block: residuals + predictions rebuild
        the target; first pixel predicts from opaque black."""
        import numpy as np

        codec = self._codec()
        target = np.array(
            [[(100, 110, 120), (101, 111, 121), (103, 113, 123)],
             [(50, 60, 70), (52, 62, 72), (55, 65, 75)]], dtype=np.uint8)
        h, w = target.shape[:2]
        t32 = (
            np.full((h, w), 0xFF000000, dtype=np.uint32)
            | target[..., 0].astype(np.uint32) << 16
            | target[..., 1].astype(np.uint32) << 8
            | target[..., 2].astype(np.uint32)
        )
        # residuals under: (0,0) black; row0 left; col0 top; rest mode 1=left
        res = np.zeros_like(t32)
        for y in range(h):
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = int(t32[0, x - 1])
                elif x == 0:
                    pred = int(t32[y - 1, 0])
                else:
                    pred = int(t32[y, x - 1])
                d = 0
                for sh in (0, 8, 16, 24):
                    d |= (((int(t32[y, x]) >> sh) - (pred >> sh)) % 256) << sh
                res[y, x] = d

        from gohangout_spark.functions.webp import _BitWriter

        bw = _BitWriter()
        bw.put_bits(1, 1)  # transform present
        bw.put_bits(0, 2)  # PREDICTOR
        bw.put_bits(0, 3)  # size_bits - 2 = 0 -> 4x4 tiles -> one tile
        mode_px = np.array([[0xFF000000 | (1 << 8)]], dtype=np.uint32)
        codec._encode_entropy_image(bw, mode_px)
        bw.put_bits(0, 1)  # end transforms
        codec._encode_pixels(bw, res)
        out = codec.decode(self._wrap(bw, w, h))
        assert np.array_equal(out[..., :3], target)
        assert (out[..., 3] == 255).all()

    def test_predictor_right_edge_and_mode13_spec(self):
        """Regression (r6, ADVICE r5): modes using TOP-RIGHT must fall back
        to the CURRENT row's leftmost pixel at the right edge (spec
        P[pos-width+1]), and mode 13's (a-tl)/2 must truncate toward zero
        like C — both verified against an independent spec predictor
        reimplemented here, on inputs asserted to exercise both paths."""
        import numpy as np

        codec = self._codec()

        def avg2(p, q):
            r = 0
            for sh in (0, 8, 16, 24):
                r |= ((((p >> sh) & 0xFF) + ((q >> sh) & 0xFF)) >> 1) << sh
            return r

        def spec_pred(mode, t32, y, x, w):
            L, T = int(t32[y, x - 1]), int(t32[y - 1, x])
            TL = int(t32[y - 1, x - 1])
            TR = int(t32[y - 1, x + 1]) if x + 1 < w else int(t32[y, 0])
            if mode == 3:
                return TR
            if mode == 5:
                return avg2(avg2(L, TR), T)
            if mode == 9:
                return avg2(T, TR)
            if mode == 10:
                return avg2(avg2(L, TL), avg2(T, TR))
            if mode == 13:
                r = 0
                for sh in (0, 8, 16, 24):
                    a = (((L >> sh) & 0xFF) + ((T >> sh) & 0xFF)) >> 1
                    d = a - ((TL >> sh) & 0xFF)
                    v = a + int(d / 2)  # C division: toward zero
                    r |= max(0, min(255, v)) << sh
                return r
            raise AssertionError(mode)

        from gohangout_spark.functions.webp import _BitWriter

        rng = np.random.RandomState(11)
        for mode in (3, 5, 9, 10, 13):
            target = rng.randint(0, 256, size=(3, 4, 3), dtype=np.uint8)
            h, w = target.shape[:2]
            t32 = (
                np.full((h, w), 0xFF000000, dtype=np.uint32)
                | target[..., 0].astype(np.uint32) << 16
                | target[..., 1].astype(np.uint32) << 8
                | target[..., 2].astype(np.uint32)
            )
            saw_edge_diff = saw_odd_neg = False
            res = np.zeros_like(t32)
            for y in range(h):
                for x in range(w):
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = int(t32[0, x - 1])
                    elif x == 0:
                        pred = int(t32[y - 1, 0])
                    else:
                        pred = spec_pred(mode, t32, y, x, w)
                        if x == w - 1 and int(t32[y, 0]) != int(t32[y - 1, 0]):
                            saw_edge_diff = True
                        if mode == 13:
                            L, T = int(t32[y, x - 1]), int(t32[y - 1, x])
                            TL = int(t32[y - 1, x - 1])
                            for sh in (0, 8, 16, 24):
                                a = (((L >> sh) & 0xFF) + ((T >> sh) & 0xFF)) >> 1
                                d = a - ((TL >> sh) & 0xFF)
                                if d < 0 and d % 2:
                                    saw_odd_neg = True
                    d = 0
                    for sh in (0, 8, 16, 24):
                        d |= (((int(t32[y, x]) >> sh) - (pred >> sh)) % 256) << sh
                    res[y, x] = d
            # the fixture genuinely exercises the fixed paths
            assert saw_edge_diff if mode in (3, 5, 9, 10) else saw_odd_neg, mode

            bw = _BitWriter()
            bw.put_bits(1, 1)  # transform present
            bw.put_bits(0, 2)  # PREDICTOR
            bw.put_bits(0, 3)  # 4x4 tiles -> one tile
            mode_px = np.array([[0xFF000000 | (mode << 8)]], dtype=np.uint32)
            codec._encode_entropy_image(bw, mode_px)
            bw.put_bits(0, 1)  # end transforms
            codec._encode_pixels(bw, res)
            out = codec.decode(self._wrap(bw, w, h))
            assert np.array_equal(out[..., :3], target), mode
            assert (out[..., 3] == 255).all(), mode

    def test_color_transform_inverse(self):
        """One color-transform tile (g2r=16, g2b=8, r2b=4): the decoder's
        signed-multiplier deltas must reconstruct the original channels."""
        import numpy as np

        codec = self._codec()
        rng = np.random.RandomState(9)
        target = rng.randint(0, 256, size=(3, 3, 3), dtype=np.uint8)
        h, w = 3, 3
        g2r, g2b, r2b = 16, 8, 4

        def s8(v):
            return v - 256 if v >= 128 else v

        def delta(t, c):
            return (s8(t) * s8(c)) >> 5

        fwd = np.zeros((h, w), dtype=np.uint32)
        for y in range(h):
            for x in range(w):
                r, g, b = (int(v) for v in target[y, x])
                nr = (r - delta(g2r, g)) & 0xFF
                # the inverse applies the red->blue delta AFTER red is
                # reconstructed, so the forward uses the ORIGINAL red
                nb = (b - delta(g2b, g) - delta(r2b, r)) & 0xFF
                fwd[y, x] = 0xFF000000 | (nr << 16) | (g << 8) | nb

        from gohangout_spark.functions.webp import _BitWriter

        bw = _BitWriter()
        bw.put_bits(1, 1)
        bw.put_bits(1, 2)  # COLOR transform
        bw.put_bits(2, 3)  # size_bits - 2 = 2 -> 16x16 tile -> one tile
        cte = 0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
        codec._encode_entropy_image(bw, np.array([[cte]], dtype=np.uint32))
        bw.put_bits(0, 1)
        codec._encode_pixels(bw, fwd)
        out = codec.decode(self._wrap(bw, w, h))
        assert np.array_equal(out[..., :3], target)

    def test_meta_huffman_groups(self):
        """Two spatial code groups via the entropy image: pixels select
        their group by tile — misrouted groups break Huffman alignment."""
        import numpy as np

        from gohangout_spark.functions.webp import _BitWriter, _canonical_codes

        codec = self._codec()
        # 5x1 image: x 0..3 -> group 0 (flat codes), x4 -> group 1 (small set)
        px = np.array(
            [[(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12), (200, 201, 202)]],
            dtype=np.uint8,
        )
        bw = _BitWriter()
        bw.put_bits(0, 1)  # no transforms
        bw.put_bits(0, 1)  # no cache
        bw.put_bits(1, 1)  # meta huffman ON
        bw.put_bits(0, 3)  # meta_bits - 2 = 0 -> 4px tiles -> 2x1 entropy img
        # entropy image pixels: group ids in (red<<8)|green -> green byte
        ent = np.array([[0xFF000000, 0xFF000100]], dtype=np.uint32)
        codec._encode_entropy_image(bw, ent)
        # group 0: flat trees
        codec._write_flat_code(bw, 280, 256)
        for _ in range(3):
            codec._write_flat_code(bw, 256, 256)
        codec._write_single_code(bw, 0)
        # group 1: dedicated small trees for pixel (200,201,202)
        glens = [0] * 280
        glens[201] = 1
        glens[0] = 1  # padding symbol to keep the code kraft-complete
        codec._write_normal_code(bw, glens)
        g1 = _canonical_codes(glens)
        codec._write_single_code(bw, 200)
        codec._write_single_code(bw, 202)
        codec._write_single_code(bw, 0xFF)
        codec._write_single_code(bw, 0)
        # pixels: 4 via group0 flat (g, r, b, a each 8 bits), 1 via group1
        for x in range(4):
            r, g, b = (int(v) for v in px[0, x])
            bw.put_code(g, 8)
            bw.put_code(r, 8)
            bw.put_code(b, 8)
            bw.put_code(0xFF, 8)
        c, l = g1[201]
        bw.put_code(c, l)  # green via group-1 tree; r/b/a are single-symbol
        out = codec.decode(self._wrap(bw, 5, 1))
        assert np.array_equal(out[0, :, :3], px[0])

    def test_rejects_garbage(self):
        import pytest

        codec = self._codec()
        with pytest.raises(ValueError, match="RIFF/WEBP"):
            codec.decode(b"not a webp at all....")
        with pytest.raises(ValueError):
            codec.decode(b"RIFF\x08\x00\x00\x00WEBPVP8 ")  # lossy chunk


class TestAviMjpegCodec:
    """REAL MJPEG-in-AVI container demux/mux (RIFF walk + JPEG frames)."""

    @staticmethod
    def _solid_frames(n, w=10, h=9, base=7):
        import numpy as np

        frames = []
        for j in range(n):
            px = np.zeros((h, w, 3), dtype=np.uint8)
            px[:, :] = ((base + j * 31) % 256, (base * 2 + j * 13) % 256,
                        (base * 3 + j * 29) % 256)
            frames.append(px)
        return frames

    def test_roundtrip_matches_jpeg_closed_form(self):
        from gohangout_spark.functions.jpeg import solid_color_roundtrip_reference
        from gohangout_spark.functions.multimodal import AviMjpegCodec

        codec = AviMjpegCodec(quality=90)
        frames = self._solid_frames(4)
        dec = list(codec.iter_frames(codec.encode(frames)))
        assert len(dec) == 4
        for j, px in enumerate(dec):
            exp = solid_color_roundtrip_reference(
                ((7 + j * 31) % 256, (14 + j * 13) % 256, (21 + j * 29) % 256), 90
            )
            assert (px == px[0, 0]).all()
            assert tuple(int(v) for v in px[0, 0]) == exp

    def test_container_structure_and_probe(self):
        """The mux writes honest headers: RIFF/AVI magic, MJPG handler,
        real dims/fps/frame count in avih+strh, an idx1 entry per frame —
        what any third-party demuxer reads."""
        from gohangout_spark.functions.multimodal import AviMjpegCodec

        codec = AviMjpegCodec(quality=85, fps=30)
        avi = codec.encode(self._solid_frames(5, w=12, h=11))
        assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
        info = codec.probe(avi)
        assert info["handler"] == "MJPG" and info["fps"] == 30
        assert info["n_frames"] == 5 and info["n_index_entries"] == 5
        assert (info["width"], info["height"]) == (12, 11)
        assert info["has_index"]

    def test_tolerant_demux_rec_groups_and_unknown_chunks(self):
        """Files from other muxers interleave frames inside 'rec ' LISTs
        and carry JUNK/INFO chunks — the walk must recurse and skip."""
        import struct

        from gohangout_spark.functions.multimodal import AviMjpegCodec

        codec = AviMjpegCodec(quality=90)
        frames = self._solid_frames(3)
        jpegs = [codec._jpeg.encode(f) for f in frames]
        # movi: frame0 bare, frames 1-2 inside a rec  group, JUNK between
        movi = codec._chunk(b"00dc", jpegs[0])
        movi += codec._chunk(b"JUNK", b"\x00" * 7)  # odd size: pad coverage
        movi += codec._riff_list(
            b"rec ",
            codec._chunk(b"00dc", jpegs[1]) + codec._chunk(b"00db", jpegs[2]),
        )
        body = b"AVI " + codec._riff_list(b"movi", movi)
        avi = b"RIFF" + struct.pack("<I", len(body)) + body
        dec = list(codec.iter_frames(avi))
        assert len(dec) == 3
        for got, exp in zip(dec, frames):
            import numpy as np

            assert (got == got[0, 0]).all()
            # solid-color decode: compare against the codec's own single
            # image decode (closed-form tested elsewhere)
            assert np.array_equal(got, codec._jpeg.decode(codec._jpeg.encode(exp)))

    def test_rejects_non_avi(self):
        import pytest

        from gohangout_spark.functions.multimodal import AviMjpegCodec

        codec = AviMjpegCodec()
        with pytest.raises(ValueError, match="RIFF/AVI"):
            list(codec.iter_frames(b"\x89PNG not an avi"))
        with pytest.raises(ValueError, match="RIFF/AVI"):
            codec.probe(b"RIFX wrong endian payload")

    def test_frame_features_sampling(self, spark):
        from gohangout_spark.functions.multimodal import (
            AviMjpegCodec,
            extract_video_frame_features,
            make_avi_media_table,
        )

        media = make_avi_media_table(spark, n=6, quality=90)
        out = extract_video_frame_features(
            media, codec=AviMjpegCodec(quality=90), every_n=2
        ).collect()
        # clip i has 2 + i%3 frames; sampled idx 0 (always) and 2 (i%3>=1)
        expected_rows = sum(1 + (1 if i % 3 >= 1 else 0) for i in range(6))
        assert len(out) == expected_rows
        assert all(r.frame_idx % 2 == 0 for r in out)
        by_clip = {}
        for r in out:
            by_clip.setdefault(r.media_id, []).append(r)
        for i, rows in by_clip.items():
            assert all(
                (r.width, r.height) == (10 + i % 6, 9 + i % 5) for r in rows
            )


class TestPngCodec:
    """Pure-stdlib PNG decode (zlib + filter algebra) — no Pillow."""

    def test_roundtrip_rgb_and_rgba(self):
        import numpy as np

        from gohangout_spark.functions.multimodal import PngCodec

        codec = PngCodec()
        rng = np.random.RandomState(7)
        rgb = rng.randint(0, 256, size=(11, 7, 3), dtype=np.uint8)
        assert np.array_equal(codec.decode(codec.encode(rgb)), rgb)
        rgba = rng.randint(0, 256, size=(5, 9, 4), dtype=np.uint8)
        assert np.array_equal(codec.decode(codec.encode(rgba)), rgba)

    def test_all_five_filters_decode(self):
        """Hand-filter a known image with EVERY filter type per row and check
        the decoder reverses Sub/Up/Average/Paeth exactly (the encoder
        only ever writes filter 0, so this path needs its own fixture)."""
        import struct
        import zlib

        import numpy as np

        from gohangout_spark.functions.multimodal import PngCodec

        rng = np.random.RandomState(3)
        img = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
        h, w, ch = img.shape
        stride = w * ch
        flat = img.reshape(h, stride).astype(np.int32)

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

        raw = bytearray()
        for y, ftype in enumerate([0, 1, 2, 3, 4]):
            prev = flat[y - 1] if y else np.zeros(stride, dtype=np.int32)
            cur = flat[y]
            out = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                pred = {0: 0, 1: a, 2: b, 3: (a + b) >> 1, 4: paeth(a, b, c)}[ftype]
                out[x] = (cur[x] - pred) & 0xFF
            raw.append(ftype)
            raw += out.astype(np.uint8).tobytes()

        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        payload = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        assert np.array_equal(PngCodec().decode(payload), img)

    def test_unsupported_raise_clearly(self):
        import struct
        import zlib

        import pytest as _pytest

        from gohangout_spark.functions.multimodal import PngCodec

        def mk(depth=8, color=2, interlace=0):
            def chunk(ctype, data):
                return (
                    struct.pack(">I", len(data)) + ctype + data
                    + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
                )

            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace))
                + chunk(b"IDAT", zlib.compress(b"\x00" * 14))
                + chunk(b"IEND", b"")
            )

        c = PngCodec()
        with _pytest.raises(ValueError, match="8-bit"):
            c.decode(mk(depth=16))
        with _pytest.raises(ValueError, match="RGB/RGBA"):
            c.decode(mk(color=3))
        with _pytest.raises(ValueError, match="interlaced"):
            c.decode(mk(interlace=1))
        with _pytest.raises(ValueError, match="not a PNG"):
            c.decode(b"JFIF....")

    def test_autocodec_dispatch(self):
        import numpy as np

        from gohangout_spark.functions.multimodal import AutoCodec, PngCodec

        img = np.full((3, 4, 3), 77, dtype=np.uint8)
        assert np.array_equal(AutoCodec().decode(PngCodec().encode(img)), img)


class TestGifCodec:
    """Pure-Python GIF LZW decode/encode (GIF89a spec)."""

    def test_roundtrip_high_entropy_exercises_dict_reset(self):
        import numpy as np

        from gohangout_spark.functions.multimodal import GifCodec

        codec = GifCodec()
        rng = np.random.RandomState(11)
        pal = rng.randint(0, 256, size=(64, 3), dtype=np.uint8)
        pal = np.unique(pal, axis=0)
        idx = rng.randint(0, len(pal), size=(120, 130))
        img = pal[idx]
        assert np.array_equal(codec.decode(codec.encode(img)), img)

    def test_roundtrip_repetitive_hits_kwkwk(self):
        import numpy as np

        from gohangout_spark.functions.multimodal import GifCodec

        codec = GifCodec()
        # long runs of one index are the classic KwKwK-producing input
        img = np.zeros((16, 33, 3), dtype=np.uint8)
        img[:, ::7] = (200, 10, 10)
        assert np.array_equal(codec.decode(codec.encode(img)), img)

    def test_interlaced_decode(self):
        import numpy as np

        from gohangout_spark.functions.multimodal import GifCodec

        codec = GifCodec()
        rng = np.random.RandomState(5)
        pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                       dtype=np.uint8)
        idx = rng.randint(0, 4, size=(13, 9))
        img = pal[idx]
        h = img.shape[0]
        order = (list(range(0, h, 8)) + list(range(4, h, 8))
                 + list(range(2, h, 4)) + list(range(1, h, 2)))
        payload = bytearray(codec.encode(img[order]))
        # flip the interlace bit in the image descriptor's packed byte
        pal_bytes = 3 * ((payload[10] & 0x80) and (2 << (payload[10] & 7)))
        desc_packed = 13 + pal_bytes + 9
        assert payload[desc_packed - 9] == 0x2C
        payload[desc_packed] |= 0x40
        assert np.array_equal(codec.decode(bytes(payload)), img)

    def test_too_many_colors_raises(self):
        import numpy as np

        import pytest as _pytest

        from gohangout_spark.functions.multimodal import GifCodec

        rng = np.random.RandomState(2)
        img = rng.randint(0, 256, size=(40, 40, 3), dtype=np.uint8)
        with _pytest.raises(ValueError, match="quantize"):
            GifCodec().encode(img)

    def test_autocodec_dispatch(self):
        import numpy as np

        from gohangout_spark.functions.multimodal import AutoCodec, GifCodec

        img = np.full((4, 5, 3), 9, dtype=np.uint8)
        assert np.array_equal(AutoCodec().decode(GifCodec().encode(img)), img)


class TestReviewFixesR4:
    """Regression pins for the round-4 code-review findings."""

    def test_sprig_first_last_empty_array_is_null(self, spark):
        """ANSI Spark: element_at throws on empty arrays — sprig first/last
        must return nil instead (try_element_at)."""
        from pyspark.sql import Row

        from gohangout_spark.expr.render import compile_render

        d = spark.createDataFrame([Row(tags=[])], "tags array<string>")
        row = d.select(
            compile_render("{{first .tags}}", d).alias("f"),
            compile_render("{{last .tags}}", d).alias("l"),
        ).first()
        assert row.f is None and row.l is None

    def test_sprig_join_nonliteral_sep_raises(self, spark):
        import pytest as _pytest
        from pyspark.sql import Row

        from gohangout_spark.expr.render import compile_render

        d = spark.createDataFrame([Row(tags=["a"], sep="-")])
        with _pytest.raises(ValueError, match="literal separator"):
            compile_render("{{.tags | join .sep}}", d)

    def test_sprig_go_path_semantics(self, spark):
        from pyspark.sql import Row

        from gohangout_spark.expr.render import compile_render

        d = spark.createDataFrame([Row(x="1")])
        table = {
            '{{ext ".bashrc"}}': ".bashrc",   # Go path.Ext, not splitext
            '{{ext "a."}}': ".",
            '{{clean "//a/b"}}': "/a/b",      # Go collapses leading //
            '{{dir "//a/b"}}': "/a",
        }
        cols = [
            compile_render(t, d, allow_udf_templates=True).alias(f"c{i}")
            for i, t in enumerate(table)
        ]
        row = d.select(*cols).first()
        for i, (t, expect) in enumerate(table.items()):
            assert row[f"c{i}"] == expect, (t, row[f"c{i}"])

    def test_group_centroids_short_vectors_null_skip(self, spark):
        """ANSI Spark: mixed-length vectors must NULL-skip per dimension,
        not throw (try_element_at)."""
        from gohangout_spark.functions.similarity import group_centroids

        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (0, [3.0])], "label int, embedding array<double>"
        )
        r = group_centroids(df, dim=2).first()
        assert r.n == 2
        assert r.centroid == [2.0, 2.0]  # dim 2 averaged over ONE vector

    def test_gif_encode_rejects_rgba(self):
        import numpy as np
        import pytest as _pytest

        from gohangout_spark.functions.multimodal import GifCodec

        img = np.zeros((3, 4, 4), dtype=np.uint8)  # H*W*4 divisible by 3
        with _pytest.raises(ValueError, match="HxWx3"):
            GifCodec().encode(img)

    def test_upsert_moved_key_check(self, spark, tmp_path):
        import pytest as _pytest

        from gohangout_spark.io import upsert_partitioned

        tgt = str(tmp_path / "t")
        spark.createDataFrame(
            [(1, "day0", "v")], "id long, day string, val string"
        ).write.partitionBy("day").parquet(tgt)
        moved = spark.createDataFrame(
            [(1, "day1", "MOVED")], "id long, day string, val string"
        )
        with _pytest.raises(ValueError, match="moves a key"):
            upsert_partitioned(
                spark, tgt, moved, ["id"], "day", check_moved_keys=True
            )
        # without the check the documented contract applies (caller's duty)

    def test_trained_classifier_length_invariance(self, spark):
        """The normalize-parity fix: a LONG positive doc must not outscore
        its own class boundary purely by token count."""
        from gohangout_spark.functions.classify import (
            score_documents,
            train_text_classifier,
        )

        rows = []
        for i in range(40):
            good = i % 2 == 0
            words = ["excellent", "clear"] if good else ["spam", "buy"]
            rows.append((i, " ".join(words * 6), good))
        # one extreme-length BAD doc
        rows.append((99, " ".join(["spam", "buy"] * 200), False))
        docs = spark.createDataFrame(rows, "doc_id long, text string, good boolean")
        w, b = train_text_classifier(docs, "good", dim=32, max_iter=30)
        scored = {r.doc_id: r.score for r in score_documents(docs, w, b).collect()}
        # the long bad doc stays on the bad side (unnormalized scoring
        # would blow its |logit| up by ~sqrt(400) and could flip it)
        good_min = min(v for k, v in scored.items() if k % 2 == 0 and k != 99)
        assert scored[99] < good_min


class TestJpegCodec:
    """Baseline JPEG (functions/jpeg.py): DCT + data-built Huffman tables."""

    def test_solid_colors_match_closed_form(self):
        import numpy as np

        from gohangout_spark.functions.jpeg import (
            JpegCodec,
            solid_color_roundtrip_reference,
        )

        codec = JpegCodec(quality=90)
        for rgb in [(200, 30, 90), (0, 0, 0), (255, 255, 255), (17, 123, 240)]:
            img = np.zeros((16, 24, 3), dtype=np.uint8)
            img[:, :] = rgb
            out = codec.decode(codec.encode(img))
            expect = solid_color_roundtrip_reference(rgb, 90)
            assert np.array_equal(out, np.full_like(out, expect)), (rgb, expect)

    def test_gradient_roundtrip_within_quantization(self):
        import numpy as np

        from gohangout_spark.functions.jpeg import JpegCodec

        x = np.linspace(0, 255, 40)
        img = np.dstack(
            [np.tile(x, (40, 1)), np.tile(x[::-1], (40, 1)), np.full((40, 40), 128)]
        ).astype(np.uint8)
        for sub, tol in (("444", 3), ("420", 8)):
            out = JpegCodec(quality=90, subsample=sub).decode(
                JpegCodec(quality=90, subsample=sub).encode(img)
            )
            d = np.abs(out.astype(int) - img.astype(int))
            assert d.max() <= tol, (sub, d.max())
            assert out.shape == img.shape

    def test_odd_dimensions_and_both_layouts(self):
        import numpy as np

        from gohangout_spark.functions.jpeg import JpegCodec

        rng = np.random.RandomState(4)
        # smooth-ish random field (random noise compresses terribly)
        base = rng.randint(0, 256, size=(3, 4, 3)).astype(np.float64)
        img = np.clip(
            np.round(
                np.kron(base, np.ones((8, 8, 1)))[:19, :27]
            ),
            0,
            255,
        ).astype(np.uint8)
        for sub in ("444", "420"):
            out = JpegCodec(quality=95, subsample=sub).decode(
                JpegCodec(quality=95, subsample=sub).encode(img)
            )
            assert out.shape == (19, 27, 3)
            d = np.abs(out.astype(int) - img.astype(int))
            # blockwise-constant input: only block borders deviate
            assert np.median(d) <= 2, (sub, np.median(d))

    def test_progressive_rejected_clearly(self):
        import struct

        import pytest as _pytest

        from gohangout_spark.functions.jpeg import JpegCodec

        sof2 = b"\xff\xd8" + struct.pack(">HH", 0xFFC2, 10) + b"\x08" * 8
        with _pytest.raises(ValueError, match="BASELINE"):
            JpegCodec().decode(sof2)
        with _pytest.raises(ValueError, match="not a JPEG"):
            JpegCodec().decode(b"PNG?")

    def test_autocodec_dispatch(self):
        import numpy as np

        from gohangout_spark.functions.jpeg import JpegCodec
        from gohangout_spark.functions.multimodal import AutoCodec

        img = np.full((8, 8, 3), 120, dtype=np.uint8)
        out = AutoCodec().decode(JpegCodec().encode(img))
        assert out.shape == (8, 8, 3)


class TestHashedEmbeddingsPandas:
    def test_identical_to_column_path(self, spark):
        from gohangout_spark.functions.similarity import (
            hashed_embeddings,
            hashed_embeddings_pandas,
        )

        docs = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "pack my box"), (3, ""),
             (4, None), (5, "the the the")],
            "doc_id long, text string",
        )
        for normalize in (False, True):
            a = {r.doc_id: r.embedding for r in hashed_embeddings(
                docs, dim=16, normalize=normalize
            ).select("doc_id", "embedding").collect()}
            b = {r.doc_id: r.embedding for r in hashed_embeddings_pandas(
                docs, dim=16, normalize=normalize
            ).select("doc_id", "embedding").collect()}
            for k in a:
                if a[k] is None or b[k] is None:
                    assert a[k] == b[k], (normalize, k)
                else:
                    assert max(
                        abs(x - y) for x, y in zip(a[k], b[k])
                    ) < 1e-12, (normalize, k)


class TestFlacCodec:
    """FLAC lossless codec (functions/flac.py): exact roundtrips plus
    hand-built frames for the decoder-only paths (LPC, stereo
    decorrelation, verbatim, rice escape)."""

    def test_roundtrips_exact(self):
        import numpy as np

        from gohangout_spark.functions.flac import FlacCodec

        codec = FlacCodec(sample_rate=16000, block_size=256)
        t = np.arange(2000)
        mono = np.round(10000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int32)
        dec, sr = codec.decode(codec.encode(mono))
        assert sr == 16000 and np.array_equal(dec[:, 0], mono)
        stereo = np.stack([mono, np.full_like(mono, 123)], axis=-1)
        dec2, _ = codec.decode(codec.encode(stereo))
        assert np.array_equal(dec2, stereo)
        rng = np.random.RandomState(0)
        noise = rng.randint(-32768, 32767, size=777).astype(np.int32)
        dec3, _ = codec.decode(codec.encode(noise))
        assert np.array_equal(dec3[:, 0], noise)

    def test_compresses_tonal_audio(self):
        import numpy as np

        from gohangout_spark.functions.flac import FlacCodec

        t = np.arange(8000)
        tone = np.round(8000 * np.sin(2 * np.pi * 220 * t / 16000)).astype(np.int32)
        enc = FlacCodec(block_size=4096).encode(tone)
        assert len(enc) < 2 * len(tone) * 0.8  # beats raw 16-bit PCM

    def test_handbuilt_lpc_left_side_frame(self):
        """Decoder-only paths: an LPC(1) left channel + VERBATIM side
        channel in LEFT/SIDE stereo, built bit-by-bit with the module's
        own writer and checked against a numpy reference."""
        import struct

        import numpy as np

        from gohangout_spark.functions.flac import (
            FlacCodec,
            _BW,
            _crc8,
            _crc16,
            _utf8_number,
            _zigzag,
        )

        bs, bps = 16, 16
        # reference signals
        side = np.arange(-8, 8, dtype=np.int64)          # verbatim, bps+1 bits
        warm = 100
        resid = np.array([3, -2, 5, 0, 1, -1, 2, 4, -3, 0, 6, -5, 1, 2, -2],
                         dtype=np.int64)
        left = np.empty(bs, dtype=np.int64)
        left[0] = warm
        for i in range(1, bs):                            # pred = (2*x[i-1]) >> 1
            left[i] = resid[i - 1] + ((2 * left[i - 1]) >> 1)
        right = left - side

        # streaminfo container via the real encoder, then a custom frame
        codec = FlacCodec(sample_rate=16000, block_size=bs)
        container = codec.encode(np.zeros((bs, 2), dtype=np.int32))
        header_end = container.index(b"\xff\xf8")         # first frame sync
        hdr = _BW()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 2)
        hdr.write(0b0110, 4)       # 8-bit blocksize at end
        hdr.write(0b0000, 4)
        hdr.write(8, 4)            # LEFT/SIDE
        hdr.write(0b100, 3)
        hdr.write(0, 1)
        hdr.align()
        header = bytes(hdr.buf) + _utf8_number(0) + bytes([bs - 1])
        header += bytes([_crc8(header)])
        body = _BW()
        # left: LPC order 1, precision 4 bits, shift 1, coef 2
        body.write(0, 1)
        body.write(0b100000, 6)
        body.write(0, 1)
        body.write(warm & 0xFFFF, bps)
        body.write(4 - 1, 4)       # precision-1
        body.write(1, 5)           # shift
        body.write(2, 4)           # coef
        body.write(0, 2)           # rice4
        body.write(0, 4)           # partition order 0
        body.write(3, 4)           # rice param 3
        for u in _zigzag(resid):
            q, r = int(u) >> 3, int(u) & 7
            body.write_unary(q)
            body.write(r, 3)
        # side: VERBATIM at bps+1
        body.write(0, 1)
        body.write(0b000001, 6)
        body.write(0, 1)
        for v in side:
            body.write(int(v) & ((1 << 17) - 1), 17)
        body.align()
        frame = header + bytes(body.buf)
        payload = container[:header_end] + frame + struct.pack(">H", _crc16(frame))
        dec, _ = FlacCodec().decode(payload)
        assert np.array_equal(dec[:, 0], left)
        assert np.array_equal(dec[:, 1], right)

    def test_rejects_non_flac(self):
        import pytest as _pytest

        from gohangout_spark.functions.flac import FlacCodec

        with _pytest.raises(ValueError, match="not a FLAC"):
            FlacCodec().decode(b"RIFFxxxx")


class TestJpegRealWorldPaths:
    """4:2:2 sampling and restart markers — layouts real encoders emit."""

    def test_all_sampling_by_restart_combos(self):
        import numpy as np

        from gohangout_spark.functions.jpeg import (
            JpegCodec,
            solid_color_roundtrip_reference,
        )

        x = np.linspace(0, 255, 48)
        grad = np.dstack(
            [np.tile(x, (48, 1)), np.tile(x[::-1], (48, 1)), np.full((48, 48), 128)]
        ).astype(np.uint8)
        solid = np.full((17, 23, 3), (200, 30, 90), dtype=np.uint8)
        expect = solid_color_roundtrip_reference((200, 30, 90))
        for sub, tol in (("444", 3), ("422", 8), ("420", 8)):
            for ri in (0, 3):
                codec = JpegCodec(quality=90, subsample=sub, restart_interval=ri)
                d = np.abs(
                    codec.decode(codec.encode(grad)).astype(int) - grad.astype(int)
                )
                assert d.max() <= tol, (sub, ri, d.max())
                sdec = codec.decode(codec.encode(solid))
                assert np.array_equal(sdec, np.full_like(sdec, expect)), (sub, ri)

    def test_restart_stream_decodes_identically(self):
        import numpy as np

        from gohangout_spark.functions.jpeg import JpegCodec

        img = np.random.RandomState(1).randint(0, 256, (48, 48, 3)).astype(np.uint8)
        enc0 = JpegCodec(restart_interval=0).encode(img)
        enc3 = JpegCodec(restart_interval=3).encode(img)
        n_rst = sum(
            1
            for i in range(len(enc3) - 1)
            if enc3[i] == 0xFF and 0xD0 <= enc3[i + 1] <= 0xD7
        )
        assert n_rst == 11 and b"\xff\xdd" in enc3  # DRI + RSTn present
        assert np.array_equal(JpegCodec().decode(enc0), JpegCodec().decode(enc3))


class TestCodecReviewFixesR4b:
    """Regression pins for the second code-review pass (codec findings)."""

    def test_flac_frame_numbers_past_2048(self):
        import numpy as np

        from gohangout_spark.functions.flac import FlacCodec, _utf8_number

        # 3-byte UTF-8 boundary: the old capacity formula truncated here
        assert _utf8_number(2048) == chr(2048).encode("utf-8")  # E0 A0 80
        assert _utf8_number(0x7FF) == chr(0x7FF).encode("utf-8")
        codec = FlacCodec(block_size=16)
        x = (np.arange(33600) % 251 - 125).astype(np.int32)  # 2100 frames
        dec, _ = codec.decode(codec.encode(x))
        assert np.array_equal(dec[:, 0], x)

    def test_flac_raw_bits_escape_roundtrip(self):
        import numpy as np

        from gohangout_spark.functions.flac import FlacCodec

        # alternating extremes make fixed-2 residuals huge -> escape path
        spiky = np.tile([32000, -32000], 200).astype(np.int32)
        dec, _ = FlacCodec(block_size=64).decode(
            FlacCodec(block_size=64).encode(spiky)
        )
        assert np.array_equal(dec[:, 0], spiky)

    def test_jpeg_huffman_length_limit_and_all_ones_reserve(self):
        from gohangout_spark.functions.jpeg import (
            _build_huffman,
            _canonical_codes,
        )

        fib = {}
        a = b = 1
        for sym in range(18):
            fib[sym] = a
            a, b = b, a + b
        bits, vals = _build_huffman(fib)  # used to raise ValueError
        assert max(i + 1 for i, n in enumerate(bits) if n) <= 16
        for sym, (code, length) in _canonical_codes(bits, vals).items():
            assert code != (1 << length) - 1, (sym, length)

    def test_jpeg_fill_bytes_and_12bit_rejection(self):
        import struct

        import numpy as np
        import pytest as _pytest

        from gohangout_spark.functions.jpeg import (
            JpegCodec,
            solid_color_roundtrip_reference,
        )

        codec = JpegCodec()
        img = np.full((9, 9, 3), (200, 30, 90), dtype=np.uint8)
        enc = codec.encode(img)
        out = codec.decode(enc[:2] + b"\xff" + enc[2:])  # fill byte
        expect = solid_color_roundtrip_reference((200, 30, 90))
        assert np.array_equal(out, np.full_like(out, expect))
        twelve = b"\xff\xd8" + struct.pack(">HH", 0xFFC0, 11) + bytes(
            [12, 0, 8, 0, 8, 1]
        ) + bytes(3)
        with _pytest.raises(ValueError, match="precision"):
            codec.decode(twelve)


class TestWordPiece:
    """WordPiece greedy longest-match segmentation (bpe.wordpiece_segment_word
    / wordpiece_encode_stats): cross-checked against an independent
    enumerate-all-matches-then-argmax reimplementation; longest-match,
    position-class, [UNK] and no-backtracking semantics pinned by hand."""

    @staticmethod
    def _tables(vocab):
        from gohangout_spark.functions.bpe import _wordpiece_tables

        return _wordpiece_tables(vocab)

    def test_greedy_equals_independent_reimpl(self):
        import random

        from gohangout_spark.functions.bpe import (
            WORDPIECE_DEMO_VOCAB,
            wordpiece_segment_word,
        )

        init, cont, max_len = self._tables(WORDPIECE_DEMO_VOCAB)

        # independent formulation: enumerate EVERY matching piece at the
        # position, then argmax on content length (vs the impl's
        # longest-first early-exit probe)
        def reimpl(word):
            out, pos = [], 0
            while pos < len(word):
                table = init if pos == 0 else cont
                cands = [
                    (txt, form)
                    for txt, form in table.items()
                    if word[pos : pos + len(txt)] == txt
                ]
                if not cands:
                    return ["[UNK]"]
                txt, form = max(cands, key=lambda c: len(c[0]))
                out.append(form)
                pos += len(txt)
            return out

        rng = random.Random(7)
        words = ["window", "stream", "customer", "query", "maximum",
                 "sequence", "batch42ing", "vertex3", "a", "x", "qq"]
        words += ["".join(rng.choice("abceqrtux01") for _ in range(rng.randint(1, 12)))
                  for _ in range(60)]
        for w in words:
            assert wordpiece_segment_word(w, init, cont, max_len) == reimpl(w), w

    def test_longest_match_and_position_class(self):
        from gohangout_spark.functions.bpe import (
            WORDPIECE_DEMO_VOCAB,
            wordpiece_segment_word,
        )

        init, cont, max_len = self._tables(WORDPIECE_DEMO_VOCAB)
        seg = lambda w: wordpiece_segment_word(w, init, cont, max_len)
        # ##ter (3) must beat ##t/##te at the same position
        assert seg("filter") == ["fil", "##ter"]
        assert seg("customer") == ["cust", "##o", "##m", "##er"]
        # 'the' is an INITIAL piece: mid-word it must NOT match
        assert seg("tthe") == ["t", "##t", "##h", "##e"]
        # digits segment via single-char continuations, then ##ing (3) wins
        assert seg("batch7ing") == ["bat", "##ch", "##7", "##ing"]

    def test_unk_and_no_backtracking(self):
        from gohangout_spark.functions.bpe import wordpiece_segment_word

        # interior q has no continuation in a vocab without ##q
        init, cont, ml = self._tables(["s", "e", "q", "##e", "##u"])
        assert wordpiece_segment_word("seq", init, cont, ml) == ["[UNK]"]
        # greedy takes 'ab' then dead-ends, even though a+##bc segments:
        # WordPiece does NOT backtrack (BERT semantics)
        init, cont, ml = self._tables(["ab", "a", "##bc"])
        assert wordpiece_segment_word("abc", init, cont, ml) == ["[UNK]"]
        assert wordpiece_segment_word("a", init, cont, ml) == ["a"]

    def test_duplicate_content_rejected(self):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="duplicate"):
            self._tables(["ab", "ab"])
        with _pytest.raises(ValueError, match="duplicate"):
            self._tables(["##er", "##er"])
        # same content in DIFFERENT position classes is fine
        init, cont, _ = self._tables(["er", "##er"])
        assert "er" in init and "er" in cont

    def test_stats_shape_and_hash(self, spark):
        import hashlib

        from gohangout_spark.functions.bpe import wordpiece_encode_stats

        docs = spark.createDataFrame(
            [(1, "The Window!"), (2, "sequence the"), (3, ""), (4, None)],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in wordpiece_encode_stats(docs).collect()}
        assert rows[1].n_pieces == 3 and rows[1].n_unk == 0
        assert rows[1].pieces_hash == hashlib.md5(b"the win ##dow").hexdigest()
        # 'sequence' collapses to ONE [UNK] token
        assert rows[2].n_pieces == 2 and rows[2].n_unk == 1
        assert rows[2].pieces_hash == hashlib.md5(b"[UNK] the").hexdigest()
        empty = hashlib.md5(b"").hexdigest()
        for d in (3, 4):
            assert rows[d].n_pieces == 0 and rows[d].n_unk == 0
            assert rows[d].pieces_hash == empty


class TestCountMin:
    """Count-Min sketch (sketch.countmin_table/countmin_estimate): the
    over-count-only invariant, exactness without collisions, and the
    elementwise-sum merge property that makes it distributable."""

    def _df(self, spark, rows):
        return spark.createDataFrame([(v,) for v in rows], "k string")

    def test_never_underestimates_and_tight_when_wide(self, spark):
        import random

        from gohangout_spark.functions.sketch import (
            countmin_estimate,
            countmin_table,
        )

        rng = random.Random(3)
        vals = [f"u{rng.randint(0, 40)}" for _ in range(500)]
        truth = {v: vals.count(v) for v in set(vals)}
        df = self._df(spark, vals)
        keys = df.dropDuplicates(["k"])
        # narrow sketch: collisions guaranteed (41 keys, 8 buckets) but
        # estimates may NEVER undercount
        sk = countmin_table(df, "k", depth=3, width=8)
        est = {
            r.k: r.cm_est
            for r in countmin_estimate(sk, keys, "k", depth=3, width=8).collect()
        }
        assert set(est) == set(truth)
        assert all(est[k] >= truth[k] for k in truth)
        assert any(est[k] > truth[k] for k in truth), "8 buckets must collide"
        # wide sketch: no collisions plausible at 41 keys x 4096 buckets
        # and est==exact for every key
        sk2 = countmin_table(df, "k", depth=4, width=4096)
        est2 = {
            r.k: r.cm_est
            for r in countmin_estimate(sk2, keys, "k", depth=4, width=4096).collect()
        }
        assert est2 == truth

    def test_merge_is_elementwise_sum(self, spark):
        from pyspark.sql import functions as F

        from gohangout_spark.functions.sketch import countmin_table

        a = self._df(spark, ["x", "y", "x", "z"])
        b = self._df(spark, ["y", "y", "w"])
        whole = countmin_table(a.union(b), "k", depth=3, width=16)
        merged = (
            countmin_table(a, "k", depth=3, width=16)
            .union(countmin_table(b, "k", depth=3, width=16))
            .groupBy("depth", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        as_set = lambda df: {(r.depth, r.bucket, r.cnt) for r in df.collect()}
        assert as_set(whole) == as_set(merged)

    def test_nulls_not_counted(self, spark):
        from gohangout_spark.functions.sketch import countmin_table

        df = spark.createDataFrame([("a",), (None,), ("a",)], "k string")
        sk = countmin_table(df, "k", depth=2, width=8)
        # every counter row belongs to 'a' alone: total per depth == 2
        rows = sk.collect()
        assert sum(r.cnt for r in rows) == 4  # 2 occurrences x 2 depths


class TestLogBucketQuantiles:
    """HDR-style log-bucket quantile sketch (sketch.logbucket_*): index/
    lower-bound inversion invariants, the 12.5% error bound against exact
    quantiles, and the merge-by-sum property."""

    def test_index_lowerbound_invariants(self, spark):
        from pyspark.sql import functions as F

        from gohangout_spark.functions.sketch import (
            logbucket_index,
            logbucket_lower_bound,
        )

        # dense small range + every power of two up to 2^45
        vals = spark.range(1, 5000).union(
            spark.range(0, 46).select(
                F.call_function("shiftleft", F.lit(1).cast("long"),
                                F.col("id").cast("int")).alias("id")
            )
        )
        r = (
            vals.select(F.col("id").alias("v"),
                        logbucket_index(F.col("id")).alias("idx"))
            .withColumn("lb", logbucket_lower_bound(F.col("idx")))
        )
        width = F.greatest(
            F.call_function("shiftright", F.col("lb"), F.lit(3)), F.lit(1)
        )
        # lb <= v < lb + width (width = lb/8 past the exact range)
        assert r.where((F.col("lb") > F.col("v"))
                       | (F.col("v") >= F.col("lb") + width)).count() == 0
        # index monotone in v
        from pyspark.sql import Window

        assert (
            r.withColumn("p", F.lag("idx").over(Window.orderBy("v")))
            .where(F.col("p") > F.col("idx"))
            .count()
            == 0
        )

    def test_quantiles_within_bound_and_merge(self, spark):
        import random

        from pyspark.sql import functions as F

        from gohangout_spark.functions.sketch import (
            logbucket_quantiles,
            logbucket_table,
        )

        rng = random.Random(5)
        rows = [("a", rng.lognormvariate(3, 1.2)) for _ in range(2000)]
        rows += [("b", rng.uniform(0.001, 9.0)) for _ in range(500)]
        df = spark.createDataFrame(rows, "g string, value double")
        hist = logbucket_table(df, "value", ["g"], scale=1000)
        est = {r.g: r for r in logbucket_quantiles(hist, ["g"]).collect()}

        import math

        for g in ("a", "b"):
            vals = sorted(int(math.floor(v * 1000)) for gg, v in rows if gg == g)
            vals = [v for v in vals if v >= 1]
            assert est[g].n_rows == len(vals)
            for q, name in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
                rank = -(-int(q * 100) * len(vals) // 100)  # ceil in ints
                true = vals[rank - 1]
                got = est[g][name]
                # lower bound of true's bucket: got <= true < got*(1+1/8)+1
                assert got <= true <= got + max(got // 8, 1), (g, name, got, true)

        # merge = elementwise sum of part sketches
        half1 = spark.createDataFrame(rows[:1000], "g string, value double")
        half2 = spark.createDataFrame(rows[1000:], "g string, value double")
        merged = (
            logbucket_table(half1, "value", ["g"], scale=1000)
            .union(logbucket_table(half2, "value", ["g"], scale=1000))
            .groupBy("g", "idx")
            .agg(F.sum("cnt").alias("cnt"))
        )
        as_set = lambda d: {(r.g, r.idx, r.cnt) for r in d.collect()}
        assert as_set(hist) == as_set(merged)

    def test_nonpositive_and_null_excluded(self, spark):
        from gohangout_spark.functions.sketch import logbucket_table

        df = spark.createDataFrame(
            [("a", 5.0), ("a", 0.0), ("a", -3.0), ("a", None), ("a", 0.0001)],
            "g string, value double",
        )
        # 0.0001*1000 = 0.1 -> floor 0 -> excluded; only 5.0 survives
        hist = logbucket_table(df, "value", ["g"], scale=1000)
        rows = hist.collect()
        assert len(rows) == 1 and rows[0].cnt == 1


class TestKmv:
    """KMV bottom-k distinct sketch (sketch.kmv_*): exactness while
    unsaturated, bit-for-bit agreement of the saturated estimator with an
    independent Python replay of the construction, partitioning
    invariance, the union re-sketch identity, and the theta intersection
    rule — the properties the kmv_distinct_users / kmv_cohort_setops
    oracles gate at table scale."""

    @staticmethod
    def _h48(v) -> int:
        import hashlib

        return int(hashlib.md5(str(v).encode()).hexdigest()[:12], 16)

    def _df(self, spark, vals, nparts=4):
        return spark.createDataFrame(
            [(v,) for v in vals], "k string"
        ).repartition(nparts)

    def test_exact_when_unsaturated(self, spark):
        from gohangout_spark.functions.sketch import kmv_estimate, kmv_table

        vals = [f"u{i % 9}" for i in range(50)]
        sk = kmv_table(self._df(spark, vals), "k", k=32)
        (row,) = kmv_estimate(sk, k=32).collect()
        assert row.n_kept == 9 and row.dv_est == 9

    def test_saturated_estimator_matches_python_replay(self, spark):
        from gohangout_spark.functions.sketch import (
            KMV_SPAN,
            kmv_estimate,
            kmv_table,
        )

        k = 16
        vals = [f"user-{i}" for i in range(400)] * 2  # dups must not matter
        sk = kmv_table(self._df(spark, vals), "k", k=k)
        got = sorted(r.h for r in sk.collect())
        want = sorted({self._h48(v) for v in set(vals)})[:k]
        assert got == want, "sketch must hold the k smallest distinct hashes"
        (row,) = kmv_estimate(sk, k=k).collect()
        assert row.kth == want[-1]
        assert row.dv_est == (k - 1) * KMV_SPAN // want[-1]
        # unbiasedness sanity at k=16: stderr ~ 1/sqrt(k-2), allow 4 sigma
        assert abs(row.dv_est - 400) / 400 < 4 / (k - 2) ** 0.5

    def test_partitioning_invariance(self, spark):
        from gohangout_spark.functions.sketch import kmv_table

        vals = [f"v{i}" for i in range(200)]
        one = sorted(r.h for r in kmv_table(self._df(spark, vals, 1), "k", k=8).collect())
        many = sorted(r.h for r in kmv_table(self._df(spark, vals, 13), "k", k=8).collect())
        assert one == many

    def test_pre_distinct_guard_identical_and_dedups_before_window(self, spark):
        """r10 (ADVICE r9): the duplicate-heavy guard. pre_distinct=True
        must (a) produce the identical synopsis (bottom-k distinct is
        dedup-insensitive), and (b) aggregate DISTINCT (group, h) BELOW
        the rank window so duplicates die map-side instead of funneling
        into the window task."""
        from gohangout_spark.functions.sketch import kmv_table

        vals = ["dup"] * 5000 + ["x", "y"]
        df = self._df(spark, vals, 8)
        want = sorted({self._h48(v) for v in set(vals)})
        default = sorted(r.h for r in kmv_table(df, "k", k=8).collect())
        sk = kmv_table(df, "k", k=8, pre_distinct=True)
        guarded = sorted(r.h for r in sk.collect())
        assert default == guarded == want
        plan = sk._jdf.queryExecution().executedPlan().toString()
        # the per-partition rank bound survives: either the grouped
        # WindowGroupLimit or (ungrouped, as here) the global top-k the
        # optimizer derives from the row_number filter
        assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan
        # the dedup exchange (keyed on the hash) sits BELOW the window:
        # plan text prints parents first, so the window node must appear
        # before the hash-keyed exchange
        assert plan.index("Window") < plan.index("hashpartitioning(h#")

    def test_union_equals_sketch_of_union(self, spark):
        from gohangout_spark.functions.sketch import kmv_table, kmv_union

        a_vals = [f"a{i}" for i in range(60)]
        b_vals = [f"b{i}" for i in range(60)] + a_vals[:20]
        a, b = self._df(spark, a_vals), self._df(spark, b_vals)
        merged = sorted(
            r.h
            for r in kmv_union(
                kmv_table(a, "k", k=12), kmv_table(b, "k", k=12), k=12
            ).collect()
        )
        whole = sorted(r.h for r in kmv_table(a.union(b), "k", k=12).collect())
        assert merged == whole

    def test_intersection_theta_rule(self, spark):
        from gohangout_spark.functions.sketch import (
            KMV_SPAN,
            kmv_intersect_estimate,
            kmv_table,
        )

        k = 8
        a_vals = [f"x{i}" for i in range(100)]
        b_vals = [f"x{i}" for i in range(50, 150)]  # true overlap: 50
        ska = kmv_table(self._df(spark, a_vals), "k", k=k)
        skb = kmv_table(self._df(spark, b_vals), "k", k=k)
        (row,) = kmv_intersect_estimate(ska, skb, k=k).collect()
        # independent replay of theta and common-below-theta
        ha = sorted({self._h48(v) for v in a_vals})[:k]
        hb = sorted({self._h48(v) for v in b_vals})[:k]
        theta = min(ha[-1], hb[-1])
        common = len({h for h in ha if h < theta} & {h for h in hb if h < theta})
        assert (row.common, row.theta) == (common, theta)
        assert row.inter_est == common * KMV_SPAN // theta

    def test_grouped_and_nulls(self, spark):
        from gohangout_spark.functions.sketch import kmv_estimate, kmv_table

        df = spark.createDataFrame(
            [("g1", "a"), ("g1", "b"), ("g1", None), ("g2", "a")],
            "g string, k string",
        )
        sk = kmv_table(df, "k", ["g"], k=4)
        rows = {r.g: r for r in kmv_estimate(sk, ["g"], k=4).collect()}
        assert rows["g1"].n_kept == 2 and rows["g2"].n_kept == 1
        assert rows["g1"].dv_est == 2 and rows["g2"].dv_est == 1

    def test_null_group_key_is_a_group(self, spark):
        # Spark groupBy semantics: NULL is a group; the local pandas pass
        # must not drop it (pandas groupby defaults to dropna=True)
        from gohangout_spark.functions.sketch import kmv_estimate, kmv_table

        df = spark.createDataFrame(
            [(None, "a"), (None, "b"), ("g1", "a")], "g string, k string"
        )
        sk = kmv_table(df, "k", ["g"], k=4)
        rows = {r.g: r for r in kmv_estimate(sk, ["g"], k=4).collect()}
        assert rows[None].n_kept == 2 and rows[None].dv_est == 2
        assert rows["g1"].n_kept == 1


class TestAmsF2:
    """AMS F2 / self-join-size sketch (sketch.ams_f2_table/_estimate):
    linearity (merge by z-sum), the exact-replay of the signed sums
    against Python md5, the integer median convention, and null
    exclusion — the ams_f2_events oracle gates the same construction at
    table scale."""

    def _df(self, spark, vals, nparts=4):
        return spark.createDataFrame(
            [(v,) for v in vals], "k string"
        ).repartition(nparts)

    @staticmethod
    def _sign(v, d) -> int:
        import hashlib

        hx = hashlib.md5(f"{d // 32}:{v}".encode()).hexdigest()
        return 1 if int(hx[d % 32], 16) >= 8 else -1

    def test_signed_sums_match_python_replay(self, spark):
        from gohangout_spark.functions.sketch import ams_f2_estimate, ams_f2_table

        vals = [f"u{i % 11}" for i in range(300)]
        sk = ams_f2_table(self._df(spark, vals), "k", depth=15)
        got = {r.depth: r.z for r in sk.collect()}
        want = {
            d: sum(self._sign(v, d) for v in vals) for d in range(15)
        }
        assert got == want
        # median-of-means replay: 3 groups of 5 (g = d % 3), floor-div
        # means, middle-ranked group
        means = sorted(
            sum(want[d] ** 2 for d in range(15) if d % 3 == g) // 5
            for g in range(3)
        )
        (row,) = ams_f2_estimate(sk, depth=15, groups=3).collect()
        assert row.f2_est == means[1]

    def test_median_of_means_unbiased_vs_singleton_bias(self, spark):
        # the estimator-structure property the sf0.1 drive exposed:
        # median of SINGLE squares sits near 0.455*F2 (chi-square-1
        # median), median of 8-means lands near F2
        from gohangout_spark.functions.sketch import ams_f2_estimate, ams_f2_table

        vals = [f"user-{i}" for i in range(500)]  # flat: F2 = 500
        sk = ams_f2_table(self._df(spark, vals), "k", depth=40)
        (mom,) = ams_f2_estimate(sk, depth=40, groups=5).collect()
        # groups=40 -> s1=1: every "mean" is a single square (the biased
        # regime); the hash is deterministic so both values are pinned
        (single,) = ams_f2_estimate(sk, depth=40, groups=40).collect()
        assert abs(mom.f2_est - 500) / 500 < 0.5
        assert single.f2_est < mom.f2_est

    def test_merge_is_z_sum(self, spark):
        from pyspark.sql import functions as F

        from gohangout_spark.functions.sketch import ams_f2_table

        a = self._df(spark, ["x", "y", "x"])
        b = self._df(spark, ["y", "z"])
        whole = {(r.depth, r.z) for r in ams_f2_table(a.union(b), "k").collect()}
        merged = {
            (r.depth, r.z)
            for r in (
                ams_f2_table(a, "k")
                .union(ams_f2_table(b, "k"))
                .groupBy("depth")
                .agg(F.sum("z").alias("z"))
            ).collect()
        }
        assert whole == merged

    def test_nulls_excluded_and_estimator_order(self, spark):
        from gohangout_spark.functions.sketch import ams_f2_estimate, ams_f2_table

        df = spark.createDataFrame([("a",), (None,), ("a",)], "k string")
        sk = ams_f2_table(df, "k", depth=3)
        # both 'a' occurrences share a sign per depth: |z| == 2 everywhere
        assert all(abs(r.z) == 2 for r in sk.collect())
        (row,) = ams_f2_estimate(sk, depth=3, groups=3).collect()
        assert row.f2_est == 4  # exact F2 of {a: 2}

    def test_join_size_matches_python_replay(self, spark):
        from gohangout_spark.functions.sketch import (
            ams_f2_table,
            ams_join_size_estimate,
        )

        a_vals = [f"u{i % 7}" for i in range(100)]
        b_vals = [f"u{i % 13}" for i in range(60)]  # overlap on u0..u6
        ska = ams_f2_table(self._df(spark, a_vals), "k", depth=15)
        skb = ams_f2_table(self._df(spark, b_vals), "k", depth=15)
        (row,) = ams_join_size_estimate(ska, skb, depth=15, groups=3).collect()
        za = {d: sum(self._sign(v, d) for v in a_vals) for d in range(15)}
        zb = {d: sum(self._sign(v, d) for v in b_vals) for d in range(15)}

        def trunc_div(s, n):  # Spark div: truncation toward zero
            return -((-s) // n) if s < 0 else s // n

        means = sorted(
            trunc_div(sum(za[d] * zb[d] for d in range(15) if d % 3 == g), 5)
            for g in range(3)
        )
        assert row.join_est == means[1]


class TestCharsetEntropy:
    """charset_profile / char_entropy (functions/text.py): exact class
    counts summing to length, entropy on hand-computable distributions,
    empty/NULL handling — the charset_entropy_profile oracle gates the
    same math at corpus scale."""

    def _one(self, spark, text):
        from pyspark.sql import functions as F

        from gohangout_spark.functions.text import char_entropy, charset_profile

        df = spark.createDataFrame([(text,)], "text string")
        return df.select(
            F.length("text").alias("n"),
            *charset_profile(F.col("text")),
            char_entropy(F.col("text")).alias("ent"),
        ).first()

    def test_counts_partition_the_length(self, spark):
        r = self._one(spark, "Ab1 ;\nXy")
        assert (r.n_lower, r.n_upper, r.n_digit, r.n_space, r.n_other) == (
            2, 2, 1, 2, 1
        )
        assert r.n_lower + r.n_upper + r.n_digit + r.n_space + r.n_other == r.n

    def test_entropy_known_values(self, spark):
        assert self._one(spark, "aaaa").ent == 0.0  # degenerate: 0 bits
        assert self._one(spark, "abab").ent == 1.0  # uniform over 2 chars
        assert self._one(spark, "abcd").ent == 2.0  # uniform over 4 chars
        # 3/4 - 1/4 split: -(3/4)log2(3/4) - (1/4)log2(1/4) = 0.8113
        assert self._one(spark, "aaab").ent == 0.8113

    def test_empty_and_null(self, spark):
        assert self._one(spark, "").ent is None
        assert self._one(spark, None).ent is None

    def test_pandas_variant_equals_jvm(self, spark):
        # the Arrow-path char_entropy_pandas must agree with the JVM HOF
        # on every document (same math, same rounding) — the gate runs
        # the pandas variant, the JVM twin stays the no-Python option
        from pyspark.sql import functions as F

        from gohangout_spark.functions.text import (
            char_entropy,
            char_entropy_pandas,
        )
        from gohangout_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        diff = docs.select(
            char_entropy(F.col("text")).alias("a"),
            char_entropy_pandas(F.col("text")).alias("b"),
        ).where("a IS DISTINCT FROM b")
        assert diff.count() == 0


class TestBbitMinwise:
    """b-bit minwise hashing (dedup.bbit_*): fingerprint replay against
    Python md5, identical-doc and disjoint-doc limiting cases, the
    matched-slot bit fold, and the estimator's collision-floor clamp."""

    @staticmethod
    def _py_fp(shingles, num_hashes=31, b=2):
        import hashlib

        fp = 0
        for j in range(num_hashes):
            mn = min(
                int(hashlib.md5(f"{j}:{s}".encode()).hexdigest()[:12], 16)
                for s in shingles
            )
            fp |= (mn % (1 << b)) << (b * j)
        return fp

    def _fp(self, spark, text):
        from pyspark.sql import functions as F

        from gohangout_spark.functions.dedup import (
            bbit_minwise_fingerprint,
            word_shingles,
        )

        df = spark.createDataFrame([(text,)], "text string")
        return df.select(
            bbit_minwise_fingerprint(word_shingles(F.col("text"), 3)).alias("f")
        ).first().f

    def test_fingerprint_matches_python_replay(self, spark):
        text = "the quick brown fox jumps over the lazy dog again and again"
        toks = text.split()
        shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        assert self._fp(spark, text) == self._py_fp(shingles)

    def test_matched_slots_and_estimator(self, spark):
        from pyspark.sql import functions as F

        from gohangout_spark.functions.dedup import (
            bbit_jaccard_estimate,
            bbit_matched_slots,
        )

        df = spark.createDataFrame([(5, 5), (0b1111, 0b0000)], "a long, b long")
        out = df.select(
            bbit_matched_slots(F.col("a"), F.col("b")).alias("m"),
            bbit_jaccard_estimate(
                bbit_matched_slots(F.col("a"), F.col("b"))
            ).alias("j"),
        ).collect()
        assert (out[0].m, out[0].j) == (31, 1.0)  # identical -> J=1
        # two differing slots out of 31: m=29, est=(29/31-0.25)/0.75
        assert out[1].m == 29
        assert abs(out[1].j - (29 / 31 - 0.25) / 0.75) < 1e-12

    def test_estimator_clamps_at_zero(self, spark):
        from pyspark.sql import functions as F

        from gohangout_spark.functions.dedup import bbit_jaccard_estimate

        df = spark.createDataFrame([(3,)], "m long")
        (r,) = df.select(bbit_jaccard_estimate(F.col("m")).alias("j")).collect()
        assert r.j == 0.0  # 3/32 < collision floor 1/4

    def test_pack_width_guard(self):
        import pytest

        from gohangout_spark.functions.dedup import bbit_minwise_fingerprint

        with pytest.raises(ValueError, match="62-bit pack"):
            bbit_minwise_fingerprint(None, num_hashes=32, b=2)
