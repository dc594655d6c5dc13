"""LLM-data-pipeline text operators as YAML-addressable filters.

The north-star ops (functions.text / functions.dedup) wrapped in the same
FilterBox contract as the reference-parity filters, so a training-data
curation pipeline is just another YAML config:

    filters:
    - LanguageId: {src: text, target: lang_pred}
    - TextQuality: {src: text, target: quality}
    - TokenCount: {src: text, target: n_tokens}
    - Fingerprint: {src: text, target: fp}
    - SimHash: {src: text, target: simhash}
    - Drop:
        if: ['EQ(lang_pred,"unknown")']
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gohangout_spark.expr.paths import field_col
from gohangout_spark.operators.base import Filter, FilterEffect, RowSubsetFilter


class _TextOp(Filter):
    def __init__(self, src: str = "text", target: str | None = None):
        self.src = src
        self.target = target or self.default_target

    def build(self, df: DataFrame) -> FilterEffect:
        eff = FilterEffect()
        eff.assignments[self.target] = self.expr(field_col(self.src, df).cast("string"))
        return eff


class LanguageId(_TextOp):
    default_target = "lang_pred"

    def expr(self, col):
        from gohangout_spark.functions.text import language_id

        return language_id(col)


class TextQuality(_TextOp):
    default_target = "quality"

    def expr(self, col):
        from gohangout_spark.functions.text import quality_score

        return quality_score(col)


class TokenCount(_TextOp):
    default_target = "n_tokens"

    def expr(self, col):
        from gohangout_spark.functions.text import token_count

        return token_count(col).cast("long")


class Fingerprint(_TextOp):
    default_target = "fp"

    def expr(self, col):
        from gohangout_spark.functions.text import fingerprint

        return fingerprint(col)


class SimHash(_TextOp):
    default_target = "simhash"

    def expr(self, col):
        from gohangout_spark.functions.dedup import simhash_column

        return simhash_column(col)


class Decontaminate(RowSubsetFilter):
    """Benchmark decontamination as a YAML filter.

        - Decontaminate:
            snippets: ["the exact eval passage", ...]    # substring mode
            action: drop                                  # or: mark
        - Decontaminate:
            eval_path: /benchmarks/eval_docs.parquet      # n-gram mode
            ngram: 13
            id_field: doc_id
            action: mark
            target: contaminated
        - Decontaminate:
            eval_path: /benchmarks/eval_docs.parquet      # bloom mode
            ngram: 13
            bloom: true                                   # STREAMING-safe
            fp_rate: 1.0e-4

    Substring mode broadcasts the literal snippet list scan-side
    (functions.curation.decontaminate); n-gram mode reads the eval corpus
    and joins on hashed word n-grams (functions.curation.decontaminate_
    ngrams — needs ``id_field`` to count per-doc hits); bloom mode folds
    the eval grams into a bloom filter ONCE at build time and flags
    scan-side with zero joins — the only n-gram path that works on
    STREAMS (no false negatives; ~fp_rate false positives per gram, so
    pair ``action: mark`` with a downstream exact re-check when dropping
    is too sharp). ``drop`` removes contaminated rows; ``mark`` keeps
    them with a boolean ``target``.
    """

    def __init__(
        self,
        snippets: list[str] | None = None,
        eval_path: str | None = None,
        eval_format: str = "parquet",
        eval_field: str = "text",
        src: str = "text",
        ngram: int = 0,
        min_hits: int = 1,
        id_field: str = "doc_id",
        action: str = "drop",
        target: str = "contaminated",
        bloom: bool = False,
        fp_rate: float = 1e-4,
    ):
        if (snippets is None) == (eval_path is None):
            raise ValueError(
                "Decontaminate: exactly one of snippets / eval_path required"
            )
        if eval_path is not None and ngram < 2:
            raise ValueError(
                "Decontaminate: eval_path mode needs ngram >= 2 "
                "(substring matching against a file is snippets mode)"
            )
        if action not in ("drop", "mark"):
            raise ValueError(f"Decontaminate: unknown action {action!r}")
        self.snippets = snippets
        self.eval_path = eval_path
        self.eval_format = eval_format
        self.eval_field = eval_field
        self.src = src
        self.ngram = int(ngram)
        self.min_hits = int(min_hits)
        self.id_field = id_field
        self.action = action
        self.target = target
        self.bloom = bool(bloom)
        self.fp_rate = float(fp_rate)
        self._bloom_filter = None
        if self.bloom and snippets is not None:
            # _marked dispatches on snippets FIRST — a config naming both
            # would silently ignore the bloom flag, so reject it up front
            # (checked before the eval_path guard so the error names the
            # actual conflict, ADVICE r3)
            raise ValueError(
                "Decontaminate: snippets and bloom are mutually exclusive"
            )
        if self.bloom and eval_path is None:
            raise ValueError("Decontaminate: bloom mode needs eval_path + ngram")

    def _marked(self, df: DataFrame) -> DataFrame:
        from gohangout_spark.functions import curation

        if self.snippets is not None:
            return curation.decontaminate(
                df, self.snippets, text_col=self.src, mark_col=self.target
            )
        if self.bloom:
            # bloom mode: the eval side is read ONCE (a static batch read,
            # legal under a streaming input) and folded into a bloom the
            # stateless scan-side UDF tests — streaming-safe by shape
            if self._bloom_filter is None:
                ev = df.sparkSession.read.format(self.eval_format).load(self.eval_path)
                self._bloom_filter = curation.build_ngram_bloom(
                    ev, n=self.ngram, text_col=self.eval_field, fp_rate=self.fp_rate
                )
            out = curation.bloom_decontaminate(
                df,
                self._bloom_filter,
                n=self.ngram,
                text_col=self.src,
                id_col=self.id_field,
                min_hits=self.min_hits,
            )
            out = out.drop("contam_hits")
            if self.target != "contaminated":
                out = out.withColumnRenamed("contaminated", self.target)
            return out
        if df.isStreaming:
            # per-doc hit counts re-join the aggregated grams to the input —
            # a stream-stream join Spark rejects with an opaque analysis
            # error; say what the user should do instead
            raise ValueError(
                "Decontaminate ngram mode is batch-only (the per-doc hit "
                "count joins an aggregation back to the input); use "
                "snippets mode or bloom mode (bloom: true) on streams"
            )
        ev = df.sparkSession.read.format(self.eval_format).load(self.eval_path)
        out = curation.decontaminate_ngrams(
            df,
            ev,
            n=self.ngram,
            text_col=self.src,
            id_col=self.id_field,
            eval_text_col=self.eval_field,
            min_hits=self.min_hits,
        )
        out = out.drop("contam_hits")
        if self.target != "contaminated":
            out = out.withColumnRenamed("contaminated", self.target)
        return out

    def transform(self, df: DataFrame, ts_field: str) -> DataFrame:
        marked = self._marked(df)
        if self.action == "drop":
            return marked.where(~F.col(self.target)).drop(self.target)
        return marked

    def null_outputs(self):
        if self.action == "drop":
            return {}
        return {self.target: F.lit(None).cast("boolean")}


class QuantileBucket(RowSubsetFilter):
    """Per-group quantile bands as a YAML filter (CCNet head/middle/tail):

        - QuantileBucket:
            score_field: quality
            group_by: lang
            labels: [tail, middle, head]
    """

    def __init__(
        self,
        score_field: str,
        group_by: str | None = None,
        n_buckets: int = 3,
        labels: list[str] | None = None,
        id_field: str = "doc_id",
        target: str = "bucket",
    ):
        self.score_field = score_field
        self.group_by = group_by
        self.n_buckets = int(n_buckets)
        self.labels = labels
        self.id_field = id_field
        self.target = target

    def transform(self, df: DataFrame, ts_field: str) -> DataFrame:
        from gohangout_spark.functions.curation import quantile_buckets

        if df.isStreaming:
            # ntile needs the group's full score distribution — Spark would
            # reject the non-time window with an opaque analysis error
            raise ValueError(
                "QuantileBucket is batch-only (equal-count bands need the "
                "whole group's score distribution); bucket in a batch "
                "curation pass, or gate on absolute score thresholds in "
                "streams"
            )
        return quantile_buckets(
            df,
            score_col=self.score_field,
            group_col=self.group_by,
            n_buckets=self.n_buckets,
            id_col=self.id_field,
            bucket_col=self.target,
            labels=self.labels,
        )

    def null_outputs(self):
        typ = "string" if self.labels is not None else "int"
        return {self.target: F.lit(None).cast(typ)}


class Canonicalize(_TextOp):
    """Text canonicalization as one YAML filter (``target`` defaults to
    ``src`` — canonicalization replaces the field, like RedactPii):
    optional stages applied in the fixed scrub order a crawl pipeline
    wants — mojibake repair first (byte damage), then control-char
    strip (so HTML's whitespace squeeze/trim sees no residue), then
    HTML strip, then NFC normalization (compose LAST, after all
    textual edits). Each stage is individually gate-verified
    (fix_mojibake / html_strip_entities / strip_control_chars /
    unicode_nfc_normalize); this filter only sequences them.

        - Canonicalize: {src: text, html: true, nfc: true}
    """

    default_target = None

    def __init__(
        self,
        src: str = "text",
        target: str | None = None,
        mojibake: bool = True,
        html: bool = False,
        control: bool = True,
        nfc: bool = False,
    ):
        self.src = src
        self.target = target or src
        self.mojibake = mojibake
        self.html = html
        self.control = control
        self.nfc = nfc

    def expr(self, col):
        from gohangout_spark.functions.text import (
            fix_mojibake,
            html_to_text,
            nfc_normalize,
            strip_control_chars,
        )

        out = col
        if self.mojibake:
            out = fix_mojibake(out)
        if self.control:
            out = strip_control_chars(out)
        if self.html:
            out = html_to_text(out)
        if self.nfc:
            out = nfc_normalize(out)
        return out


class RedactPii(_TextOp):
    """Scrub emails/IPv4s/phones in place (``target`` defaults to ``src`` —
    redaction replaces the field, matching how a log pipeline uses it)."""

    default_target = None

    def __init__(self, src: str = "message", target: str | None = None):
        self.src = src
        self.target = target or src

    def expr(self, col):
        from gohangout_spark.functions.curation import redact_pii

        return redact_pii(col)


class GopherRules(RowSubsetFilter):
    """Gopher quality heuristics as a YAML filter (functions.curation.
    gopher_rules): adds the six per-rule boolean columns + ``gopher_keep``;
    ``action: drop`` keeps only passing docs (guarded rows only, when the
    box has ``if`` conditions — unguarded rows pass through like the other
    curation filters).

        - GopherRules:
            src: text
            min_words: 50          # any gopher_rules threshold kwarg
            action: mark           # or: drop
    """

    _OUT_COLS = [
        "rule_word_count",
        "rule_mean_word_len",
        "rule_symbol_ratio",
        "rule_bullet_lines",
        "rule_ellipsis_lines",
        "rule_alpha_words",
        "gopher_keep",
    ]

    def __init__(self, src: str = "text", action: str = "mark", **thresholds):
        if action not in ("mark", "drop"):
            raise ValueError(f"GopherRules action must be mark|drop: {action!r}")
        self.src = src
        self.action = action
        self.thresholds = thresholds

    def transform(self, df: DataFrame, ts_field: str) -> DataFrame:
        from gohangout_spark.functions.curation import gopher_rules

        out = gopher_rules(
            df.withColumn("__gtext", field_col(self.src, df).cast("string")),
            text_col="__gtext",
            **self.thresholds,
        ).drop("__gtext")
        if self.action == "drop":
            out = out.where(F.col("gopher_keep")).drop(*self._OUT_COLS)
        return out

    def null_outputs(self):
        if self.action == "drop":
            return {}
        return {c: F.lit(None).cast("boolean") for c in self._OUT_COLS}


class BoilerplateLines(RowSubsetFilter):
    """C4-style line-wise boilerplate removal as a YAML filter
    (functions.curation.remove_boilerplate_lines): rewrites ``src`` to the
    kept lines and adds n_lines / n_kept; ``drop_empty: true`` drops docs
    where nothing survived (guarded rows only, as with the other
    row-subset curation filters).

        - BoilerplateLines:
            src: text
            min_words: 3
            require_terminal_punct: false
            markers: ["javascript", "cookie"]
            drop_empty: true
    """

    _OUT_COLS = ["n_lines", "n_kept"]

    def __init__(self, src: str = "text", drop_empty: bool = False, **rules):
        self.src = src
        self.drop_empty = drop_empty
        self.rules = rules

    def transform(self, df: DataFrame, ts_field: str) -> DataFrame:
        from gohangout_spark.functions.curation import remove_boilerplate_lines

        out = remove_boilerplate_lines(
            df.withColumn("__btext", field_col(self.src, df).cast("string")),
            text_col="__btext",
            out_col="__bclean",
            **self.rules,
        )
        from gohangout_spark.expr.paths import set_field

        # set_field, not withColumn: a nested src like [log][text] must be
        # rewritten IN PLACE, not shadowed by a top-level column literally
        # named "[log][text]"
        out = set_field(out, self.src, F.col("__bclean")).drop("__btext", "__bclean")
        if self.drop_empty:
            out = out.where(F.col("n_kept") > 0)
        return out

    def null_outputs(self):
        return {c: F.lit(None).cast("int") for c in self._OUT_COLS}


class Classify(RowSubsetFilter):
    """Linear text-classifier gate as a YAML filter (functions.classify):
    score = sigmoid(dot(hashed_features(text), weights) + bias), weights
    inlined as plan literals — stateless, scan-side, STREAMING-safe.

        - Classify:
            src: text
            weights: [0.4, -0.2, ...]     # inline, or:
            weights_path: /models/quality.json   # {"weights": [...], "bias": f}
            bias: -0.1
            threshold: 0.5
            action: mark                  # adds `score` (+ keep bool); or: drop

    Train with functions.classify.train_text_classifier and persist the
    (weights, bias) pair; the filter never loads MLlib at score time.
    """

    def __init__(
        self,
        src: str = "text",
        weights: list[float] | None = None,
        weights_path: str | None = None,
        bias: float = 0.0,
        threshold: float = 0.5,
        action: str = "mark",
        target: str = "score",
        seed: int = 42,
        normalize: bool = True,
    ):
        if action not in ("mark", "drop"):
            raise ValueError(f"Classify action must be mark|drop: {action!r}")
        if (weights is None) == (weights_path is None):
            raise ValueError("Classify: exactly one of weights / weights_path")
        if weights_path is not None:
            import json

            with open(weights_path) as fh:
                blob = json.load(fh)
            weights = blob["weights"]
            bias = float(blob.get("bias", bias))
        self.src = src
        self.weights = [float(w) for w in weights]
        self.bias = float(bias)
        self.threshold = float(threshold)
        self.action = action
        self.target = target
        self.seed = seed
        # must match training: train_text_classifier fits on L2-normalized
        # features (code-review r4 — unnormalized scoring scales the logit
        # by ||v|| against a fixed bias and flips decisions by doc length)
        self.normalize = bool(normalize)

    def transform(self, df: DataFrame, ts_field: str) -> DataFrame:
        from gohangout_spark.functions.classify import linear_score_col
        from gohangout_spark.functions.similarity import hashed_embeddings

        emb = hashed_embeddings(
            df.withColumn("__ctext", field_col(self.src, df).cast("string")),
            text_col="__ctext",
            dim=len(self.weights),
            seed=self.seed,
            normalize=self.normalize,
            out_col="__cvec",
        )
        scored = emb.withColumn(
            self.target, linear_score_col(F.col("__cvec"), self.weights, self.bias)
        ).drop("__ctext", "__cvec")
        if self.action == "drop":
            return scored.where(F.col(self.target) >= self.threshold).drop(
                self.target
            )
        return scored.withColumn(
            f"{self.target}_keep", F.col(self.target) >= self.threshold
        )

    def null_outputs(self):
        if self.action == "drop":
            return {}
        return {
            self.target: F.lit(None).cast("double"),
            f"{self.target}_keep": F.lit(None).cast("boolean"),
        }
