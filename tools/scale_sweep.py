"""Empirical scale sweep: measure the headline operators at sf0.1 and at a
derived 100x corpus (500k docs / 10M events), and report the wall-time
scaling factor per operator.

A scale-safe (linear, parallel) operator should grow wall time at most
~linearly in data on a fixed 32-core box — superlinear growth flags a
shape that will not survive 100 TB. (A 10x derivation was tried first and
was USELESS as signal: at 50k docs every op is scheduling-overhead-bound
and "scales" at ~1x. 100x is the smallest ratio where data dominates.)

The corpus is DERIVED, not driver-provided: 100 copies of sf0.1 with
offset ids. Copy k's text is caesar-rotated by k%26 AND carries a
per-copy suffix token, so the corpus is mostly DISTINCT (cross-rotation
jaccard ~0) while each source doc keeps a bounded near-duplicate group
(the ~4 copies sharing a rotation are high-jaccard pairs) — realistic
near-dup density instead of the pathological all-copies-are-dups case.

    PYTHONPATH=. python tools/scale_sweep.py [out_dir]

Writes the derived tables once (reused across runs) and prints a
markdown table. Results are recorded in docs/SCALE.md per round.
"""

from __future__ import annotations

import os
import string
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from gohangout_spark import get_spark
from gohangout_spark.io import load_table

COPIES = 100
_ALPHA = string.ascii_lowercase + string.ascii_uppercase
STORED_OP_NAMES = ("ann_q8_stored_scan[int8,k5]", "ann_rp_stored_scan[16d,k5]")
MEDIA_OP_NAMES = ("media_screenvideo_decode", "media_adpcm_decode",
                  "media_qoi_decode", "image_dhash_neardup",
                  "media_mp3_decode")
TPCH_SWEEP = ("tpch_q9", "tpch_q11", "tpch_q12", "tpch_q21", "tpch_q5")


def _caesar(col, k: int):
    rot = k % 26
    if rot == 0:
        return col
    lower = string.ascii_lowercase[rot:] + string.ascii_lowercase[:rot]
    upper = string.ascii_uppercase[rot:] + string.ascii_uppercase[:rot]
    return F.translate(col, _ALPHA, lower + upper)


def build_derived(spark, src_sf: str, out_dir: str) -> None:
    if os.path.exists(os.path.join(out_dir, "_DONE")):
        return
    os.makedirs(out_dir, exist_ok=True)
    docs = load_table(spark, src_sf, "documents")
    n_docs = docs.count()
    parts = []
    for k in range(COPIES):
        parts.append(
            docs.select(
                (F.col("doc_id") + k * n_docs).alias("doc_id"),
                F.concat(
                    _caesar(F.col("text"), k), F.lit(f" copytag{k}")
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    ev = load_table(spark, src_sf, "events")
    n_users = 1500
    eparts = []
    for k in range(COPIES):
        eparts.append(
            ev.withColumn("user_id", F.col("user_id") + k * n_users)
            .withColumn("event_id", F.col("event_id") + k * 10_000_000)
        )
    bige = eparts[0]
    for p in eparts[1:]:
        bige = bige.unionByName(p)
    bige.repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )
    open(os.path.join(out_dir, "_DONE"), "w").write("ok")


def build_derived_embeddings(spark, src_sf: str, out_dir: str) -> None:
    """100 copies of the embeddings table with offset ids (separate marker:
    the docs/events derivation may already exist from an earlier round).
    Vectors are kept verbatim — the ANN scan shapes under test are
    content-oblivious (q8/rp scan every row; LSH bucket occupancy scales
    with corpus size exactly as it would with distinct vectors)."""
    if os.path.exists(os.path.join(out_dir, "_DONE_EMB")):
        return
    os.makedirs(out_dir, exist_ok=True)
    emb = load_table(spark, src_sf, "embeddings")
    n_vecs = emb.count()
    parts = [
        emb.select(
            (F.col("vec_id") + k * n_vecs).alias("vec_id"), "embedding", "label"
        )
        for k in range(COPIES)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    # the STORED compact representations (encode-at-ingest, the production
    # shape): int8 SQ8 codes and the 16-dim JL projection, small and big
    from gohangout_spark.functions.similarity import (
        q8_encode_corpus,
        random_projection,
    )

    big_emb = spark.read.parquet(os.path.join(out_dir, "embeddings.parquet"))
    for tag, src, parts_n in (("small", emb, 8), ("big", big_emb, 64)):
        q8_encode_corpus(src).repartition(parts_n).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"embeddings_q8_{tag}.parquet"))
        random_projection(src, dim=64, out_dim=16).select(
            "vec_id", "embedding_rp"
        ).repartition(parts_n).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"embeddings_rp16_{tag}.parquet")
        )
    open(os.path.join(out_dir, "_DONE_EMB"), "w").write("ok")


def ops(spark):
    """name -> callable(docs_df, events_df) returning a DataFrame to force."""
    from gohangout_spark.functions.curation import (
        decontaminate_ngrams,
        gopher_rules,
        lexical_diversity,
    )
    from gohangout_spark.functions.dedup import (
        exact_dedup_groups,
        minhash_lsh_candidates,
        simhash_neardup_candidates,
    )
    from gohangout_spark.functions.search import bm25_topk
    from gohangout_spark.functions.analytics import sessionize
    from gohangout_spark.functions.sketch import heavy_hitters

    from gohangout_spark.functions.analytics import rfm_segments
    from gohangout_spark.functions.dedup import exact_dedup
    from gohangout_spark.functions.lm import fit_char_bigram_lm, perplexity_pandas
    from gohangout_spark.functions.lm import kneser_ney_score as _kn
    from gohangout_spark.functions.sampling import dsir_logweights as _dsir
    from gohangout_spark.functions.bpe import unigram_encode_stats as _uni
    from gohangout_spark.functions.bpe import wordpiece_encode_stats as _wp
    from gohangout_spark.functions import text as _text

    def _cm(ev):
        from gohangout_spark.functions.sketch import countmin_estimate, countmin_table

        ev = ev.where(F.col("user_id").isNotNull())
        sk = countmin_table(ev, "user_id", depth=4, width=64)
        keys = ev.select("user_id").distinct()
        return countmin_estimate(sk, keys, "user_id", depth=4, width=64)

    def _lbq(ev):
        from gohangout_spark.functions.sketch import (
            logbucket_quantiles,
            logbucket_table,
        )

        hist = logbucket_table(ev, "value", ["event_type"], scale=1000)
        return logbucket_quantiles(hist, ["event_type"])

    def funnel(d, e):
        # the curation_funnel workload chain verbatim (gopher gate →
        # exact dedup → 4-gram decontamination → char-LM perplexity →
        # bucket) so the r5 plan trades carry an empirical 100x factor
        ev = d.where(F.col("doc_id") % 37 == 0)
        gated = (
            gopher_rules(d)
            .where(
                F.col("rule_word_count")
                & F.col("rule_mean_word_len")
                & F.col("rule_symbol_ratio")
                & F.col("rule_alpha_words")
            )
            .where(F.col("doc_id") % 37 != 0)
            .select("doc_id", "text")
        )
        deduped = exact_dedup(gated, "text", "doc_id")
        clean = decontaminate_ngrams(deduped, ev, n=4).where(
            ~F.col("contaminated")
        )
        model = fit_char_bigram_lm(d.where(F.col("lang") == "en"))
        scored = perplexity_pandas(clean.select("doc_id", "text"), model)
        bucket = (
            F.when(F.col("ppl").isNull(), "tail")
            .when(F.col("ppl") <= 5.5, "head")
            .when(F.col("ppl") <= 5.6, "middle")
            .otherwise("tail")
        )
        return scored.select("doc_id", "ppl", bucket.alias("ppl_bucket"))

    return {
        "exact_dedup": lambda d, e: exact_dedup_groups(d, "text", "doc_id"),
        # config provenance (VERDICT r5 #6): the headline operating point,
        # unchanged since r2 — 32 hashes x 16 bands x 2 rows, 3-shingles,
        # jaccard >= 0.2 post-filter
        "minhash_lsh[h32,b16,sh3,j>=0.2]": lambda d, e: minhash_lsh_candidates(
            d, "text", "doc_id", num_hashes=32, bands=16, shingle_n=3
        ).filter(F.col("jaccard") >= 0.2),
        "simhash_neardup": lambda d, e: simhash_neardup_candidates(
            d, "text", "doc_id", hamming_threshold=2
        ),
        "gopher_rules": lambda d, e: gopher_rules(d),
        "lexical_diversity": lambda d, e: lexical_diversity(d),
        "decontaminate_4gram": lambda d, e: decontaminate_ngrams(
            d, d.where(F.col("doc_id") % 37 == 0), n=4
        ),
        "bm25_search": lambda d, e: bm25_topk(
            d, "model training data", k=15
        ),
        "sessionize": lambda d, e: sessionize(e),
        "heavy_hitter_users": lambda d, e: heavy_hitters(
            e, "user_id", k=10, m=1 << 18
        ),
        # r6 additions (VERDICT r5 #8): the two r5 plan-churned queries
        "rfm_segments": lambda d, e: rfm_segments(e),
        "curation_funnel": funnel,
        # r7 text canonicalization: one codegen chain, two Arrow-path ops
        "html_strip[codegen]": lambda d, e: d.select(
            "doc_id",
            _text.html_to_text(
                F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>&amp;"))
            ).alias("clean"),
        ),
        "nfc_normalize[arrow]": lambda d, e: d.select(
            "doc_id",
            _text.nfc_normalize(
                F.replace(F.col("text"), F.lit("e"), F.lit("e\u0301"))
            ).alias("nfc"),
        ),
        "fix_mojibake[arrow]": lambda d, e: d.select(
            "doc_id",
            _text.fix_mojibake(
                F.replace(F.col("text"), F.lit("e"), F.lit("\u00c3\u00a9"))
            ).alias("fixed"),
        ),
        # r7 late additions: the KN/DSIR/unigram gated shapes \u2014 cascading
        # vocab-sized aggs, bucket-model broadcast, doc-parallel Arrow DP
        "kneser_ney[bigram]": lambda d, e: _kn(d),
        "dsir_logweights[k1024]": lambda d, e: _dsir(
            d, F.col("lang") == "en"
        ),
        "unigram_encode[frozen]": lambda d, e: _uni(d),
        # r7 third session: WordPiece greedy encode (same doc-parallel
        # Arrow seam) and the Count-Min sketch build+probe over events
        # (bounded d x w combiner shuffle + broadcast probe join)
        "wordpiece_encode[frozen]": lambda d, e: _wp(d),
        "countmin[d4w64]": lambda d, e: _cm(e),
        "logbucket_quantiles[hdr3]": lambda d, e: _lbq(e),
        # r7 fourth session: KMV bottom-k distinct sketch — local
        # mapInPandas bottom-k + window over k x partitions candidates —
        # and the AMS F2 moment sketch (one scan to 40 rows)
        "kmv_distinct[k64,type]": lambda d, e: _kmv(e),
        "ams_f2[d40,g5]": lambda d, e: _ams(e),
        # charset/entropy: per-row HOF scan, zero shuffle; b-bit minwise:
        # one aggregate pass to an 8-byte fingerprint per doc
        "charset_entropy": lambda d, e: _charset(d),
        "bbit_fingerprint[31x2,xx]": lambda d, e: _bbit(d),
        # r8: full-PSL registrable domain — InSet membership inside
        # whole-stage codegen, zero shuffle (the per-domain-cap scan)
        "psl_registrable[inset]": lambda d, e: _psl_scan(d),
        # r8: connected components -> leakage-free split over the
        # adjacent-jaccard pair graph; pointer-jump iterations + one
        # small-frame label join + scan-side split draw
        "cluster_split[cc]": lambda d, e: _cluster_split(d),
    }


def _charset(d):
    # Arrow-path entropy (the gate's variant); the JVM HOF twin measured
    # ~5x slower at 100x (per-codepoint string arrays)
    from gohangout_spark.functions.text import (
        char_entropy_pandas,
        charset_profile,
    )

    return d.select(
        "doc_id",
        *charset_profile(F.col("text")),
        char_entropy_pandas(F.col("text")).alias("entropy"),
    )


def _bbit(d):
    # production shape: slot-hash the PRE-HASHED shingles (array<long>,
    # one xxhash of the string per shingle) — per-slot string hashing
    # read 38 s at sf0.1 in the first sweep cut; hashing longs is the
    # same discipline minhash_signature's callers use
    from gohangout_spark.functions.dedup import (
        bbit_minwise_fingerprint,
        shingle_hashes,
    )

    return d.select(
        "doc_id",
        bbit_minwise_fingerprint(
            shingle_hashes(F.col("text"), 3), seam="xxhash64"
        ).alias("f"),
    )


def _psl_scan(d):
    # hosts synthesized scan-side from doc fields across the PSL branch
    # families (normal / cc-SLD / private / wildcard / bare suffix), then
    # the full algorithm as InSet predicates — no UDF, no shuffle
    from gohangout_spark.functions.psl import (
        public_suffix_labels,
        registrable_domain,
    )

    i = F.col("doc_id")
    host = (
        F.when(i % 5 == 0, F.concat(F.lit("www."), F.col("source"), F.lit(".example.com")))
        .when(i % 5 == 1, F.concat(F.col("source"), F.lit(".blog.co.uk")))
        .when(i % 5 == 2, F.concat(F.col("source"), F.lit(".github.io")))
        .when(i % 5 == 3, F.concat(F.lit("a."), F.col("source"), F.lit(".ck")))
        .otherwise(F.lit("co.uk"))
    )
    withhost = d.select("doc_id", "source").withColumn("host", host)
    return withhost.select(
        "doc_id",
        public_suffix_labels(F.col("host")).alias("ps"),
        registrable_domain(F.col("host")).alias("rd"),
    )


def _cluster_split(d):
    from gohangout_spark.functions.dedup import cluster_aware_split
    from gohangout_spark.workload import adjacent_jaccard_pairs

    pairs = adjacent_jaccard_pairs(d)
    return cluster_aware_split(d.select("doc_id"), pairs, id_col="doc_id")


def _ams(ev):
    from gohangout_spark.functions.sketch import ams_f2_estimate, ams_f2_table

    ev = ev.where(F.col("user_id").isNotNull())
    return ams_f2_estimate(ams_f2_table(ev, "user_id", depth=40), depth=40, groups=5)


def _kmv(ev):
    from gohangout_spark.functions.sketch import kmv_estimate, kmv_table

    ev = ev.where(F.col("user_id").isNotNull())
    sk = kmv_table(ev, "user_id", ["event_type"], k=64)
    return kmv_estimate(sk, ["event_type"], k=64)


def build_derived_media_mp3(spark, out_dir: str) -> None:
    """MPEG-1 Layer I media tables: the gate's 32 fixture clips at 1x and
    100x (each clip one constant subband over 12-36 granules), encoded in
    parallel like the other media derivations."""
    if os.path.exists(os.path.join(out_dir, "_DONE_MEDIA_MP3")):
        return
    os.makedirs(out_dir, exist_ok=True)
    import numpy as np
    import pandas as pd

    def gen_mp3(batches):
        from gohangout_spark.functions.mp3 import Mp3LayerICodec

        codec = Mp3LayerICodec(sample_rate=32000, nb=10)
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                a = ((i % 20) - 10) / 16.0
                sb = np.zeros((12 * (1 + i % 3), 32))
                sb[:, i % 32] = a
                rows.append((i, codec.encode_subbands(sb)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    schema = "media_id long, content binary"
    for size, n in (("small", 32), ("big", 3200)):
        spark.range(n).repartition(32 if size == "big" else 4).mapInPandas(
            gen_mp3, schema
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"media_mp3_{size}.parquet")
        )
    open(os.path.join(out_dir, "_DONE_MEDIA_MP3"), "w").close()


def build_derived_dhash(spark, out_dir: str) -> None:
    """dHash media tables: the gate's 48 images (24 twin pairs) and a
    100x corpus (4800 images, 2400 twin pairs), PPM-encoded in parallel
    via the shared closed-form pixel builder."""
    if os.path.exists(os.path.join(out_dir, "_DONE_DHASH")):
        return
    os.makedirs(out_dir, exist_ok=True)
    import pandas as pd

    def gen(half):
        def inner(batches):
            from gohangout_spark.functions.multimodal import (
                PpmCodec,
                dhash_fixture_pixels,
            )

            codec = PpmCodec()
            for pdf in batches:
                rows = [
                    (int(i), codec.encode(dhash_fixture_pixels(int(i), half)))
                    for i in pdf["id"]
                ]
                yield pd.DataFrame(rows, columns=["media_id", "content"])

        return inner

    schema = "media_id long, content binary"
    for size, n in (("small", 48), ("big", 4800)):
        spark.range(n).repartition(32 if size == "big" else 4).mapInPandas(
            gen(n // 2), schema
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"media_dhash_{size}.parquet")
        )
    open(os.path.join(out_dir, "_DONE_DHASH"), "w").write("ok")


def build_derived_tpch(spark, src_sf: str, out_dir: str) -> None:
    """100x TPC-H FACT tables (lineitem/orders with offset order keys;
    customer keys offset in step) — dimensions (part/supplier/nation/
    region) deliberately stay 1x: at 100 TB the fact side grows, the
    dimension side does not, which is exactly what keeps the broadcast
    plans broadcastable."""
    if os.path.exists(os.path.join(out_dir, "_DONE_TPCH")):
        return
    os.makedirs(out_dir, exist_ok=True)
    li = load_table(spark, src_sf, "lineitem")
    orders = load_table(spark, src_sf, "orders")
    okey_span = orders.agg(F.max("o_orderkey")).first()[0] + 1
    parts = []
    oparts = []
    for k in range(COPIES):
        parts.append(li.withColumn("l_orderkey", F.col("l_orderkey") + k * okey_span))
        # o_custkey stays UNOFFSET so every derived order still resolves
        # against the 1x customer dimension (100 orders/customer instead
        # of 1 — the realistic fact-growth shape; an offset would leave
        # dangling keys for any customer-join query pointed here)
        oparts.append(
            orders.withColumn("o_orderkey", F.col("o_orderkey") + k * okey_span)
        )
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "lineitem.parquet")
    )
    bigo = oparts[0]
    for p in oparts[1:]:
        bigo = bigo.unionByName(p)
    bigo.repartition(64).write.mode("overwrite").parquet(
        os.path.join(out_dir, "orders.parquet")
    )
    # dimensions ride along unchanged so load_table works on out_dir
    import shutil as _sh

    for t in ("customer", "supplier", "part", "nation", "region"):
        src = os.path.join(src_sf, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            _sh.copyfile(src, dst)
    open(os.path.join(out_dir, "_DONE_TPCH"), "w").write("ok")


def build_derived_media(spark, out_dir: str) -> None:
    """Media tables for the decode sweep: the Screen Video and ADPCM gate
    fixtures at 1x (the gate's 24/32 clips) and 100x, ENCODED IN PARALLEL
    (mapInPandas over an id range — the ingest shape: clip generation and
    encode never touch the driver)."""
    if os.path.exists(os.path.join(out_dir, "_DONE_MEDIA")):
        return
    os.makedirs(out_dir, exist_ok=True)
    import pandas as pd

    def gen_sv(batches):
        from gohangout_spark.functions.multimodal import (
            screenvideo_fixture_frames,
        )
        from gohangout_spark.functions.screenvideo import ScreenVideoCodec

        codec = ScreenVideoCodec(16)
        for pdf in batches:
            rows = [
                (int(i), codec.encode(screenvideo_fixture_frames(int(i))))
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    def gen_adpcm(batches):
        from gohangout_spark.functions.adpcm import ImaAdpcmCodec
        from gohangout_spark.functions.multimodal import adpcm_fixture_clip

        codec = ImaAdpcmCodec(16000, 256)  # 505 samples/block, ~8 blocks
        for pdf in batches:
            rows = [
                (int(i), codec.encode(adpcm_fixture_clip(int(i), 4000)))
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    schema = "media_id long, content binary"
    for tag, n_small in (("sv", 24), ("adpcm", 32)):
        gen = gen_sv if tag == "sv" else gen_adpcm
        for size, n in (("small", n_small), ("big", n_small * 100)):
            spark.range(n).repartition(32 if size == "big" else 4).mapInPandas(
                gen, schema
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"media_{tag}_{size}.parquet")
            )
    open(os.path.join(out_dir, "_DONE_MEDIA"), "w").write("ok")


def build_derived_media_qoi(spark, out_dir: str) -> None:
    """QOI media tables (separate marker — the sv/adpcm tables predate
    this op and must not re-encode): the gate's 48 fixture images at 1x
    and 100x, encoded in parallel like the other media derivations."""
    if os.path.exists(os.path.join(out_dir, "_DONE_MEDIA_QOI")):
        return
    os.makedirs(out_dir, exist_ok=True)
    import numpy as np
    import pandas as pd

    def gen_qoi(batches):
        from gohangout_spark.functions.multimodal import qoi_fixture_pixel
        from gohangout_spark.functions.qoi import QoiCodec

        codec = QoiCodec()
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                w, h = 12 + i % 5, 10 + i % 4
                px = np.zeros((h, w, 3), dtype=np.uint8)
                for y in range(h):
                    for x in range(w):
                        px[y, x] = qoi_fixture_pixel(i, x, y)
                rows.append((i, codec.encode(px)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    schema = "media_id long, content binary"
    for size, n in (("small", 48), ("big", 4800)):
        spark.range(n).repartition(32 if size == "big" else 4).mapInPandas(
            gen_qoi, schema
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"media_qoi_{size}.parquet")
        )
    open(os.path.join(out_dir, "_DONE_MEDIA_QOI"), "w").write("ok")


def ann_ops():
    """name -> callable(emb_df) — the r6-gated ANN scan shapes (VERDICT r6
    #6), at the exact workload operating points: a 10-query block against
    the corpus. q8 scans int8 codes (1/8 the bytes), rp scans the 16-dim
    projection (1/4 the dims), lsh replaces the scan with a bucket
    equi-join."""
    from gohangout_spark.functions.similarity import (
        brute_force_topk,
        lsh_topk,
        q8_topk,
        random_projection,
    )

    def rp(emb):
        proj = random_projection(emb, dim=64, out_dim=16)
        return brute_force_topk(
            proj, proj.filter(F.col("vec_id") < 10), vec_col="embedding_rp", k=5
        )

    return {
        # uncompressed float64 scan: the baseline the compressed variants
        # are measured against
        "ann_brute_force[f64,k5]": lambda emb: brute_force_topk(
            emb, emb.filter(F.col("vec_id") < 10), k=5
        ),
        "ann_q8_scan[int8,k5]": lambda emb: q8_topk(
            emb, emb.filter(F.col("vec_id") < 10), k=5
        ),
        "ann_rp_scan[64->16,k5]": rp,
        "ann_lsh_bucketed[p6,k5]": lambda emb: lsh_topk(
            emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5, n_planes=6
        ),
    }


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    # argv: [out_dir] [op ...] — if the first arg names a known op instead
    # of a directory, treat ALL args as the op filter and keep the default
    # out_dir (otherwise "scale_sweep.py some_op" would rebuild the 100x
    # derivation into a directory literally named after the op)
    argv = sys.argv[1:]
    op_names = (
        set(ops(None)) | set(ann_ops()) | set(STORED_OP_NAMES)
        | set(MEDIA_OP_NAMES) | set(TPCH_SWEEP)
    )  # ops bodies only close over their args; None spark is fine here
    if argv and argv[0] in op_names:
        argv = ["/tmp/sf1_derived"] + argv
    out_dir = argv[0] if argv else "/tmp/sf1_derived"
    spark = get_spark(
        "scale-sweep", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    build_derived(spark, "/root/testdata/sf0.1", out_dir)
    build_derived_embeddings(spark, "/root/testdata/sf0.1", out_dir)

    small_docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    small_ev = load_table(spark, "/root/testdata/sf0.1", "events")
    small_emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    big_docs = spark.read.parquet(os.path.join(out_dir, "documents.parquet"))
    big_ev = spark.read.parquet(os.path.join(out_dir, "events.parquet"))
    big_emb = spark.read.parquet(os.path.join(out_dir, "embeddings.parquet"))
    # warm the session so the first measured op doesn't pay JVM/codegen init
    force(small_docs.select("doc_id"))
    force(big_docs.select("doc_id"))

    def measure(name, run_small, run_big):
        # small pass runs FIRST and doubles as the codegen warmup for the
        # big pass, biasing the factor UP (conservative direction)
        t0 = time.time()
        force(run_small())
        t_small = time.time() - t0
        t0 = time.time()
        force(run_big())
        t_big = time.time() - t0
        sys.stdout.write(
            f"| {name} | {t_small:.2f} | {t_big:.2f} "
            f"| {t_big / max(t_small, 1e-9):.1f}x |\n"
        )
        sys.stdout.flush()

    print(f"| op | sf0.1 s | {COPIES}x s | factor ({COPIES}x data) |")
    print("|---|---|---|---|")
    only = set(argv[1:])  # optional op-name filter
    for name, fn in ops(spark).items():
        if only and name not in only:
            continue
        measure(
            name,
            lambda: fn(small_docs, small_ev),
            lambda: fn(big_docs, big_ev),
        )
    for name, fn in ann_ops().items():
        if only and name not in only:
            continue
        measure(name, lambda: fn(small_emb), lambda: fn(big_emb))

    # stored-representation scans: the encode ran at ingest (derived build),
    # the measured op is ONLY the query-time scan over the compact table —
    # the operating point the SQ8/JL scan-byte claims are about
    from gohangout_spark.functions.similarity import (
        brute_force_topk,
        q8_topk_encoded,
        random_projection,
    )

    qblock = small_emb.filter(F.col("vec_id") < 10)
    stored = {
        t: spark.read.parquet(os.path.join(out_dir, f"embeddings_{t}.parquet"))
        for t in ("q8_small", "q8_big", "rp16_small", "rp16_big")
    }
    rp_q = random_projection(qblock, dim=64, out_dim=16)
    stored_ops = {
        STORED_OP_NAMES[0]: (
            lambda: q8_topk_encoded(stored["q8_small"], qblock, k=5),
            lambda: q8_topk_encoded(stored["q8_big"], qblock, k=5),
        ),
        STORED_OP_NAMES[1]: (
            lambda: brute_force_topk(
                stored["rp16_small"], rp_q, vec_col="embedding_rp", k=5
            ),
            lambda: brute_force_topk(
                stored["rp16_big"], rp_q, vec_col="embedding_rp", k=5
            ),
        ),
    }
    for name, (run_small, run_big) in stored_ops.items():
        if only and name not in only:
            continue
        measure(name, run_small, run_big)

    # media decode: clip-parallel mapInPandas over pre-encoded payloads
    # (encode happened at ingest in build_derived_media) — the multimodal
    # family's scale shape: zero shuffle, one Arrow batch of clips/task
    if not only or only & set(MEDIA_OP_NAMES):
        build_derived_media(spark, out_dir)
        from gohangout_spark.functions.multimodal import (
            extract_adpcm_decode_stats,
            extract_video_frame_features,
        )
        from gohangout_spark.functions.screenvideo import ScreenVideoCodec

        media = {
            t: spark.read.parquet(os.path.join(out_dir, f"media_{t}.parquet"))
            for t in ("sv_small", "sv_big", "adpcm_small", "adpcm_big")
        }
        media_ops = {
            MEDIA_OP_NAMES[0]: (
                lambda: extract_video_frame_features(
                    media["sv_small"], codec=ScreenVideoCodec(16)
                ),
                lambda: extract_video_frame_features(
                    media["sv_big"], codec=ScreenVideoCodec(16)
                ),
            ),
            MEDIA_OP_NAMES[1]: (
                lambda: extract_adpcm_decode_stats(media["adpcm_small"]),
                lambda: extract_adpcm_decode_stats(media["adpcm_big"]),
            ),
        }
        build_derived_media_qoi(spark, out_dir)
        from gohangout_spark.functions.multimodal import extract_qoi_decode_stats

        qoi_media = {
            t: spark.read.parquet(os.path.join(out_dir, f"media_qoi_{t}.parquet"))
            for t in ("small", "big")
        }
        media_ops[MEDIA_OP_NAMES[2]] = (
            lambda: extract_qoi_decode_stats(qoi_media["small"]),
            lambda: extract_qoi_decode_stats(qoi_media["big"]),
        )
        # dHash near-dup end-to-end: decode + hash (mapInPandas) then the
        # banded candidate join + Hamming verify — at 100x images the
        # candidate count is what's under test (band-bucket occupancy
        # grows quadratically per bucket; 4800 images / 65536 buckets
        # keeps it linear in practice)
        build_derived_dhash(spark, out_dir)
        from gohangout_spark.functions.multimodal import PpmCodec
        from gohangout_spark.functions.phash import (
            dhash_neardup_pairs,
            dhash_table,
        )

        dh_media = {
            t: spark.read.parquet(os.path.join(out_dir, f"media_dhash_{t}.parquet"))
            for t in ("small", "big")
        }
        media_ops[MEDIA_OP_NAMES[3]] = (
            lambda: dhash_neardup_pairs(
                dhash_table(dh_media["small"], codec=PpmCodec())
            ),
            lambda: dhash_neardup_pairs(
                dhash_table(dh_media["big"], codec=PpmCodec())
            ),
        )
        build_derived_media_mp3(spark, out_dir)
        from gohangout_spark.functions.multimodal import extract_mp3_features

        mp3_media = {
            t: spark.read.parquet(os.path.join(out_dir, f"media_mp3_{t}.parquet"))
            for t in ("small", "big")
        }
        media_ops[MEDIA_OP_NAMES[4]] = (
            lambda: extract_mp3_features(mp3_media["small"]),
            lambda: extract_mp3_features(mp3_media["big"]),
        )
        for name, (run_small, run_big) in media_ops.items():
            if only and name not in only:
                continue
            measure(name, run_small, run_big)

    # TPC-H at 100x FACTS / 1x dims: the adapted completions' join shapes
    # (fact-fact shuffle, scalar threshold, double correlation) measured
    # against a 60M-row lineitem — the workload functions run verbatim,
    # pointed at the derived directory
    if not only or only & set(TPCH_SWEEP):
        tdir = os.path.join(out_dir, "tpch100")
        build_derived_tpch(spark, "/root/testdata/sf0.1", tdir)
        from gohangout_spark.workload import QUERIES

        for name in TPCH_SWEEP:
            if only and name not in only:
                continue
            fn = QUERIES[name][0]
            measure(
                name,
                lambda fn=fn: fn(spark, "/root/testdata/sf0.1"),
                lambda fn=fn: fn(spark, tdir),
            )


if __name__ == "__main__":
    main()
