"""Operator tests — mirrors the reference's filter unit tests
(filter/*_test.go) against deterministic batch DataFrames."""

import datetime

import pytest
from pyspark.sql import Row, functions as F

from gohangout_spark.operators import (
    Add,
    Convert,
    Date,
    Drop,
    FilterBox,
    Filters,
    Grok,
    Gsub,
    IPIP,
    Json,
    KV,
    Lowercase,
    LinkMetric,
    LinkStatsMetric,
    Remove,
    Rename,
    Replace,
    Split,
    Translate,
    Uppercase,
    URLDecode,
)

TS = datetime.datetime(2024, 5, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        Row(name="childe", message="hello world", num="42", tags=["app"], ts=TS),
        Row(name="other", message="BYE", num="abc", tags=[], ts=TS),
    ]
    return spark.createDataFrame(rows)


def rows_by_name(out):
    return {r["name"]: r.asDict() for r in out.collect()}


class TestBoxContract:
    def test_if_guard_skips(self, df):
        box = FilterBox(Add({"x": "added"}), ifs=['EQ(name,"childe")'])
        got = rows_by_name(box.apply(df))
        assert got["childe"]["x"] == "added"
        assert got["other"]["x"] is None

    def test_add_remove_postprocess(self, df):
        box = FilterBox(
            Add({"x": "v"}), add_fields={"extra": "yes"}, remove_fields=["message"]
        )
        out = box.apply(df)
        assert "message" not in out.columns
        assert rows_by_name(out)["childe"]["extra"] == "yes"

    def test_failtag(self, df):
        box = FilterBox(
            Convert({"num": {"to": "int"}}), fail_tag="convertfail", tags_field="tags"
        )
        got = rows_by_name(box.apply(df))
        assert got["childe"]["tags"] == ["app"]
        assert "convertfail" in got["other"]["tags"]


class TestBasicFilters:
    def test_add_render_and_overwrite(self, df):
        out = FilterBox(Add({"copy": "[name]", "lit": "static"})).apply(df)
        got = rows_by_name(out)
        assert got["childe"]["copy"] == "childe"
        assert got["childe"]["lit"] == "static"
        out2 = FilterBox(Add({"name": "xxx"}, overwrite=False)).apply(df)
        assert rows_by_name(out2)["childe"]["name"] == "childe"

    def test_remove_rename(self, df):
        out = FilterBox(Remove(["message"])).apply(df)
        assert "message" not in out.columns
        out = FilterBox(Rename({"message": "msg"})).apply(df)
        assert "message" not in out.columns
        assert rows_by_name(out)["childe"]["msg"] == "hello world"

    def test_drop_with_if(self, df):
        out = FilterBox(Drop(), ifs=['HasPrefix(message,"hello")']).apply(df)
        assert [r["name"] for r in out.collect()] == ["other"]

    def test_case(self, df):
        got = rows_by_name(FilterBox(Uppercase(["message"])).apply(df))
        assert got["childe"]["message"] == "HELLO WORLD"
        got = rows_by_name(FilterBox(Lowercase(["message"])).apply(df))
        assert got["other"]["message"] == "bye"

    def test_gsub_replace(self, df):
        got = rows_by_name(
            FilterBox(Gsub([{"field": "message", "src": r"l+", "repl": "L"}])).apply(df)
        )
        assert got["childe"]["message"] == "heLo worLd"
        got = rows_by_name(FilterBox(Replace([["message", "o", "0"]])).apply(df))
        assert got["childe"]["message"] == "hell0 w0rld"
        got = rows_by_name(FilterBox(Replace([["message", "o", "0", 1]])).apply(df))
        assert got["childe"]["message"] == "hell0 world"

    def test_urldecode(self, spark):
        df = spark.createDataFrame([Row(name="a", u="a%20b%3Dc"), Row(name="b", u="plain")])
        got = rows_by_name(FilterBox(URLDecode(["u"])).apply(df))
        assert got["a"]["u"] == "a b=c"
        assert got["b"]["u"] == "plain"


class TestConvert:
    def test_targets(self, spark):
        df = spark.createDataFrame(
            [Row(name="r1", i="12", f="1.5", b="true", arr=["1", "2"], s=7)]
        )
        box = FilterBox(
            Convert(
                {
                    "i": {"to": "int"},
                    "f": {"to": "float"},
                    "b": {"to": "bool"},
                    "arr": {"to": "array(int)"},
                    "s": {"to": "string"},
                }
            )
        )
        got = rows_by_name(box.apply(df))["r1"]
        assert got["i"] == 12 and got["f"] == 1.5 and got["b"] is True
        assert got["arr"] == [1, 2] and got["s"] == "7"

    def test_int_rejects_float_string(self, spark):
        # Go strconv.ParseInt("12.3") fails — so do we
        df = spark.createDataFrame([Row(name="r", v="12.3")])
        got = rows_by_name(FilterBox(Convert({"v": {"to": "int"}})).apply(df))["r"]
        assert got["v"] is None

    def test_fail_handling(self, spark):
        df = spark.createDataFrame([Row(name="bad", v="abc"), Row(name="nil", v=None)])
        box = FilterBox(Convert({"v": {"to": "int", "setto_if_fail": 0, "setto_if_nil": -1}}))
        got = rows_by_name(box.apply(df))
        assert got["bad"]["v"] == 0
        assert got["nil"]["v"] == -1


class TestDate:
    def test_parser_ladder(self, spark):
        df = spark.createDataFrame(
            [
                Row(name="go", t="2024-05-01 12:00:00"),
                Row(name="rfc", t="2024-05-01T12:00:00Z"),
                Row(name="unix", t="1714564800"),
                Row(name="unixms", t="1714564800000"),
                Row(name="bad", t="not a date"),
            ]
        )
        box = FilterBox(
            Date("t", ["2006-01-02 15:04:05", "RFC3339", "UNIX"], target="@timestamp"),
            fail_tag="datefail",
        )
        got = rows_by_name(box.apply(df))
        expect = datetime.datetime(2024, 5, 1, 12, 0, 0)
        assert got["go"]["@timestamp"] == expect
        assert got["rfc"]["@timestamp"] == expect
        assert got["unix"]["@timestamp"] == expect
        assert got["bad"]["@timestamp"] is None
        assert got["bad"]["tags"] == ["datefail"]
        # UNIX_MS in its own parser list (a ladder with both is ambiguous —
        # first listed wins, matching the reference's ordered try-list)
        got_ms = rows_by_name(
            FilterBox(Date("t", ["UNIX_MS"], target="@timestamp")).apply(df)
        )
        assert got_ms["unixms"]["@timestamp"] == expect


class TestGrok:
    def test_first_match_wins(self, spark):
        df = spark.createDataFrame(
            [
                Row(name="ok", w="2024-05-01T12:00:00Z login 200"),
                Row(name="alt", w="just-a-word 404"),
                Row(name="bad", w="???"),
            ]
        )
        box = FilterBox(
            Grok(
                src="w",
                match=[
                    r"^(?P<logtime>\S+) (?P<word>\w+) (?P<status>\d+)$",
                    r"^%{NOTSPACE:word} %{INT:status}$",
                ],
            ),
            fail_tag="grokfail",
        )
        got = rows_by_name(box.apply(df))
        assert got["ok"]["word"] == "login" and got["ok"]["status"] == "200"
        assert got["ok"]["logtime"] == "2024-05-01T12:00:00Z"
        assert got["alt"]["word"] == "just-a-word" and got["alt"]["status"] == "404"
        assert got["alt"]["logtime"] is None
        assert got["bad"]["tags"] == ["grokfail"]

    def test_builtin_pattern_expansion(self, spark):
        df = spark.createDataFrame([Row(name="r", w="srv01 10.1.2.3 took 42ms")])
        box = FilterBox(Grok(src="w", match=[r"%{WORD:host} %{IP:ip} took %{INT:ms}ms"]))
        got = rows_by_name(box.apply(df))["r"]
        assert got["host"] == "srv01" and got["ip"] == "10.1.2.3" and got["ms"] == "42"


class TestJsonKvSplit:
    def test_json_include(self, spark):
        df = spark.createDataFrame(
            [Row(name="ok", j='{"user":"u1","age":"30","drop":"x"}'), Row(name="bad", j="{nope")]
        )
        box = FilterBox(Json(field="j", include=["user", "age"]), fail_tag="jsonfail")
        got = rows_by_name(box.apply(df))
        assert got["ok"]["user"] == "u1" and got["ok"]["age"] == "30"
        assert "drop" not in got["ok"]
        assert got["bad"]["tags"] == ["jsonfail"]

    def test_json_schema_target(self, spark):
        df = spark.createDataFrame([Row(name="ok", j='{"a":1,"b":"x"}')])
        box = FilterBox(Json(field="j", schema="a int, b string", target="parsed"))
        got = rows_by_name(box.apply(df))["ok"]
        assert got["parsed"]["a"] == 1 and got["parsed"]["b"] == "x"

    def test_kv(self, spark):
        df = spark.createDataFrame([Row(name="r", kvs="a=1&b= 2 &c=3")])
        box = FilterBox(
            KV(src="kvs", field_split="&", value_split="=", trim=" ", include=["a", "b"])
        )
        got = rows_by_name(box.apply(df))["r"]
        assert got["a"] == "1" and got["b"] == "2"
        assert "c" not in got

    def test_split(self, spark):
        df = spark.createDataFrame([Row(name="ok", c="1,2,3"), Row(name="short", c="only")])
        box = FilterBox(
            Split(src="c", sep=",", fields=["f1", "f2", "f3"]), fail_tag="splitfail"
        )
        got = rows_by_name(box.apply(df))
        assert (got["ok"]["f1"], got["ok"]["f2"], got["ok"]["f3"]) == ("1", "2", "3")
        assert got["short"]["f1"] is None
        assert got["short"]["tags"] == ["splitfail"]


class TestTranslateIpip:
    def test_translate_hit_miss(self, df):
        box = FilterBox(
            Translate(source="name", target="team", dictionary={"childe": "core"}),
            fail_tag="nodict",
        )
        got = rows_by_name(box.apply(df))
        assert got["childe"]["team"] == "core"
        assert got["other"]["team"] is None
        assert "nodict" in got["other"]["tags"]

    def test_ipip_fake_provider(self, spark):
        df = spark.createDataFrame([Row(name="pub", ip="8.8.8.8"), Row(name="priv", ip="10.0.0.1")])
        got = rows_by_name(FilterBox(IPIP(src="ip")).apply(df))
        assert got["priv"]["city_name"] == "intranet"
        assert got["pub"]["country_name"] is not None
        # deterministic across runs
        got2 = rows_by_name(FilterBox(IPIP(src="ip")).apply(df))
        assert got2["pub"]["country_name"] == got["pub"]["country_name"]


class TestFiltersNested:
    def test_shared_if(self, df):
        nested = Filters(
            [FilterBox(Add({"x": "1"})), FilterBox(Add({"y": "2"}), ifs=['EQ(name,"other")'])]
        )
        box = FilterBox(nested, ifs=['Exist(name)'])
        got = rows_by_name(box.apply(df))
        assert got["childe"]["x"] == "1" and got["childe"]["y"] is None
        assert got["other"]["x"] == "1" and got["other"]["y"] == "2"


class TestMetrics:
    @pytest.fixture(scope="class")
    def events(self, spark):
        base = datetime.datetime(2024, 1, 1, 0, 0, 0)
        rows = []
        for i in range(60):
            rows.append(
                Row(
                    name="test1" if i % 2 == 0 else "test2",
                    size=float(i % 5),
                    ts=base + datetime.timedelta(seconds=i),
                )
            )
        return spark.createDataFrame(rows)

    def test_link_metric_counts(self, events):
        lm = LinkMetric(fields_link="name", batch_window=10, ts_field="ts",
                        drop_original_event=True)
        out = FilterBox(lm, ts_field="ts").apply(events)
        rows = {(r["window_start"].second // 10, r["name"]): r["count"] for r in out.collect()}
        # 60 events over 60s, 10s windows, alternating names → 5 per name per window
        assert len(rows) == 12
        assert all(v == 5 for v in rows.values())

    def test_link_metric_union_passthrough(self, events):
        lm = LinkMetric(fields_link="name", batch_window=30, ts_field="ts")
        out = FilterBox(lm, ts_field="ts").apply(events)
        assert out.count() == 60 + 4  # originals + 2 windows × 2 names

    def test_link_metric_failtag_on_originals(self, events):
        """LinkMetric.Filter always returns success=false for the original
        event (link_metric.go:267-273): failTag tags every passthrough row,
        metric rows stay untagged, add_fields never applies."""
        lm = LinkMetric(fields_link="name", batch_window=30, ts_field="ts")
        box = FilterBox(lm, ts_field="ts", fail_tag="metricked",
                        add_fields={"never": "1"})
        out = box.apply(events)
        rows = out.collect()
        originals = [r for r in rows if r["window_start"] is None]
        metrics = [r for r in rows if r["window_start"] is not None]
        assert len(originals) == 60 and len(metrics) == 4
        assert all(r["tags"] == ["metricked"] for r in originals)
        assert all(r["tags"] is None for r in metrics)
        assert all(r["never"] is None for r in rows)

    def test_link_stats(self, events):
        lm = LinkStatsMetric(fields_link="name->size", batch_window=60, ts_field="ts",
                             drop_original_event=True)
        out = FilterBox(lm, ts_field="ts").apply(events)
        got = {r["name"]: r for r in out.collect()}
        assert got["test1"]["count"] == 30
        assert got["test1"]["min"] == 0.0 and got["test1"]["max"] == 4.0
        assert got["test1"]["sum"] == pytest.approx(sum(float(i % 5) for i in range(60) if i % 2 == 0))

    def test_stats_reduce_merges_partials(self, spark, events):
        # two-instance partial→final tree (SURVEY §3.3): stage 1 emits partial
        # stats, stage 2 with reduce=true merges them
        stage1 = LinkStatsMetric(fields_link="name->size", batch_window=10, ts_field="ts",
                                 drop_original_event=True)
        partials = FilterBox(stage1, ts_field="ts").apply(events)
        partials = partials.withColumnRenamed("window_start", "ts")
        stage2 = LinkStatsMetric(fields_link="name->size", batch_window=60, ts_field="ts",
                                 drop_original_event=True, reduce=True)
        merged = FilterBox(stage2, ts_field="ts").apply(partials)
        got = {r["name"]: r for r in merged.collect()}
        assert got["test1"]["count"] == 30
        assert got["test1"]["mean"] == pytest.approx(
            sum(float(i % 5) for i in range(60) if i % 2 == 0) / 30
        )


class TestDateAddYear:
    def test_add_year_for_yearless_layout(self, spark):
        """add_year prepends the current year for year-less layouts
        (filter/date.go add_year)."""
        import datetime as dt

        df = spark.createDataFrame([Row(name="r", t="03-15 10:30:00")])
        box = FilterBox(Date("t", ["01-02 15:04:05"], target="parsed", add_year=True))
        got = rows_by_name(box.apply(df))["r"]
        assert got["parsed"] == dt.datetime(dt.date.today().year, 3, 15, 10, 30, 0)


class TestGrokPatternPaths:
    def test_pattern_file_loading(self, spark, tmp_path):
        p = tmp_path / "patterns"
        p.write_text("MYAPP app-\\w+\n# comment line\nMYID [0-9]{4}\n")
        df = spark.createDataFrame([Row(name="r", w="app-web 1234")])
        box = FilterBox(
            Grok(src="w", match=[r"^%{MYAPP:app} %{MYID:id}$"], pattern_paths=[str(p)])
        )
        got = rows_by_name(box.apply(df))["r"]
        assert got["app"] == "app-web" and got["id"] == "1234"


class TestReplaceBoundedCount:
    def test_replace_first_n(self, spark):
        df = spark.createDataFrame([Row(name="r", s="a-b-a-b-a"), Row(name="n", s=None)])
        got = rows_by_name(FilterBox(Replace([["s", "a", "X", 2]])).apply(df))
        assert got["r"]["s"] == "X-b-X-b-a"  # first 2 only, like strings.Replace
        assert got["n"]["s"] is None
        got3 = rows_by_name(FilterBox(Replace([["s", "a", "X", 99]])).apply(df))
        assert got3["r"]["s"] == "X-b-X-b-X"


class TestReviewFixes:
    """Regression tests for behaviors found in the self-review pass."""

    def test_kv_duplicate_keys_last_win(self, spark):
        df = spark.createDataFrame([Row(name="r", kvs="a=1&b=2&a=3")])
        box = FilterBox(KV(src="kvs", field_split="&", value_split="=", include=["a", "b"]))
        got = rows_by_name(box.apply(df))["r"]
        assert got["a"] == "3"  # last wins (kv.go overwrite), not a crash

    def test_kv_partial_malformed_tags_but_still_parses(self, spark):
        """kv.go:96-99: a token without the value separator flips success to
        false (→ failTag) but the parseable pairs are STILL written."""
        df = spark.createDataFrame(
            [Row(name="good", kvs="a=1&b=2"), Row(name="part", kvs="a=1&junk&b=2")]
        )
        box = FilterBox(
            KV(src="kvs", field_split="&", value_split="=", include=["a", "b"]),
            fail_tag="kvfail",
        )
        got = rows_by_name(box.apply(df))
        assert got["good"]["a"] == "1" and got["good"].get("tags") is None
        assert got["part"]["a"] == "1" and got["part"]["b"] == "2"
        assert got["part"]["tags"] == ["kvfail"]

    def test_grok_field_names_beyond_java_identifiers(self, spark):
        """grok.go (RE2) accepts %{DATA:ts_raw} / %{NUMBER:response.time};
        Java named groups do not allow '_' or '.' — the compiler must rename
        groups internally while events keep the exact reference field
        spelling."""
        from gohangout_spark.operators.grok import Grok

        df = spark.createDataFrame([Row(name="r", message="abc 12 [x]")])
        box = FilterBox(
            Grok(
                src="message",
                match=[r"%{WORD:word_tok} %{NUMBER:response.time} \[%{DATA:ts_raw}\]"],
            )
        )
        got = box.apply(df).collect()[0].asDict()
        assert got["word_tok"] == "abc"
        assert got["response.time"] == "12"
        assert got["ts_raw"] == "x"

    def test_grok_escaped_paren_before_group_survives(self, spark):
        r"""A literal \( immediately before a named group must not confuse
        the group renamer (the '(' is escaped, not a group start)."""
        from gohangout_spark.operators.grok import Grok

        df = spark.createDataFrame([Row(name="r", message="(main) ok")])
        box = FilterBox(
            Grok(src="message", match=[r"\(%{WORD:thread_name}\) %{WORD:state}"])
        )
        got = box.apply(df).collect()[0].asDict()
        assert got["thread_name"] == "main" and got["state"] == "ok"

    def test_grok_duplicate_field_rejected_at_compile(self):
        """Go's regexp rejects duplicate group names; silently taking the
        last index would null the field on the other alternation branch."""
        from gohangout_spark.operators.grok import Grok

        with pytest.raises(ValueError, match="twice"):
            Grok(src="m", match=[r"(?:%{IP:client}|%{WORD:client})"])

    def test_kv_null_src_keeps_existing_fields(self, spark):
        """kv.go:93: a missing src returns (event, false) WITHOUT touching
        fields — a pre-existing column must not be overwritten with null."""
        df = spark.createDataFrame(
            [Row(name="miss", kvs=None, a="keep"), Row(name="hit", kvs="a=1", a="old")]
        )
        box = FilterBox(
            KV(src="kvs", field_split="&", value_split="=", include=["a"]),
            fail_tag="kvfail",
        )
        got = rows_by_name(box.apply(df))
        assert got["miss"]["a"] == "keep" and got["miss"]["tags"] == ["kvfail"]
        assert got["hit"]["a"] == "1"

    def test_split_dynamic_sep_respects_maxsplit(self, spark):
        """split_filter.go:106 uses SplitN on the dynamic path too: with
        maxSplit == len(fields) the last field keeps the unsplit remainder."""
        df = spark.createDataFrame([Row(name="r", c="a,b,c,d", s=",")])
        box = FilterBox(
            Split(src="c", sep="s", fields=["f1", "f2"], max_split=2, dynamic_sep=True)
        )
        got = rows_by_name(box.apply(df))["r"]
        assert got["f1"] == "a" and got["f2"] == "b,c,d"

    def test_cluster_duplicates_warns_on_non_convergence(self, spark):
        import warnings

        from gohangout_spark.functions.dedup import cluster_duplicates

        # a 6-node chain: min-label needs 5 hops to reach the far end
        pairs = spark.createDataFrame(
            [Row(id_a=i, id_b=i + 1) for i in range(5)]
        )
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = cluster_duplicates(pairs, max_iter=2)
            out.collect()
            assert any("did not converge" in str(x.message) for x in w)
        converged = cluster_duplicates(pairs, max_iter=10)
        labels = {r["doc_id"]: r["cluster_id"] for r in converged.collect()}
        assert set(labels.values()) == {0}

    def test_grok_first_match_blocks_later_fields(self, spark):
        # p1 matches and captures only 'a'; p2 also matches and captures 'b'.
        # Reference returns after p1 -> b must stay NULL.
        df = spark.createDataFrame([Row(name="r", w="x 1")])
        box = FilterBox(
            Grok(src="w", match=[r"^(?P<a>\w+) \d+$", r"^(?P<a>\w+) (?P<b>\d+)$"])
        )
        got = rows_by_name(box.apply(df))["r"]
        assert got["a"] == "x"
        assert got["b"] is None

    def test_date_location_not_applied_to_epochs(self, spark):
        import datetime as dt

        df = spark.createDataFrame([Row(name="r", t="1714564800")])
        box = FilterBox(Date("t", ["UNIX"], target="parsed", location="Asia/Shanghai"))
        got = rows_by_name(box.apply(df))["r"]
        # epoch is absolute: location must NOT shift it
        assert got["parsed"] == dt.datetime(2024, 5, 1, 12, 0, 0)

    def test_translate_bigdict_honors_guard_and_failtag(self, spark):
        big = {str(k): f"v{k}" for k in range(20_000)}
        df = spark.createDataFrame(
            [Row(name="hit", k="5"), Row(name="miss", k="999999"), Row(name="skip", k="6")]
        )
        box = FilterBox(
            Translate(source="k", target="out", dictionary=big),
            ifs=['!EQ(name,"skip")'],
            fail_tag="nodict",
        )
        got = rows_by_name(box.apply(df))
        assert got["hit"]["out"] == "v5"
        assert got["miss"]["out"] is None and got["miss"]["tags"] == ["nodict"]
        assert got["skip"]["out"] is None and got["skip"].get("tags") is None

    def test_translate_paths_byte_identical(self, spark, monkeypatch):
        """Literal-map and broadcast-join Translate must produce identical
        output for the same config — incl. duplicate-appended failTags,
        string→array tags upgrade, and a nested [a][b] target."""
        import gohangout_spark.operators.translate as tmod

        d = {"a": "x", "b": "y"}
        rows = [
            Row(name="hit", k="a", tags=["nodict"]),   # duplicate failTag case
            Row(name="miss", k="zzz", tags=["prior"]),
            Row(name="miss2", k="qqq", tags=None),
        ]
        df = spark.createDataFrame(rows)

        def run():
            box = FilterBox(
                Translate(source="k", target="[geo][team]", dictionary=dict(d)),
                fail_tag="nodict",
                add_fields={"marked": "1"},
            )
            out = box.apply(df)
            return sorted(
                (tuple(r.asDict(recursive=True).items()) for r in out.collect()),
            )

        literal = run()
        monkeypatch.setattr(tmod, "_LITERAL_MAP_MAX", 0)  # force broadcast path
        bcast = run()
        assert literal == bcast
        as_dicts = {dict(t)["name"]: dict(t) for t in bcast}
        assert as_dicts["hit"]["geo"]["team"] == "x"
        assert as_dicts["hit"]["marked"] == "1"
        assert as_dicts["hit"]["tags"] == ["nodict"]  # success: no tag appended
        assert as_dicts["miss"]["tags"] == ["prior", "nodict"]
        assert as_dicts["miss"]["marked"] is None
        assert as_dicts["miss2"]["tags"] == ["nodict"]

    def test_translate_typed_values_same_on_both_paths(self, spark, monkeypatch):
        """An int-valued dict yields a LONG target on the literal path — the
        broadcast path must match, not silently stringify."""
        import gohangout_spark.operators.translate as tmod

        df = spark.createDataFrame([Row(name="r", k="a")])

        def run():
            box = FilterBox(Translate(source="k", target="n", dictionary={"a": 7}))
            out = box.apply(df)
            return dict(out.dtypes)["n"], rows_by_name(out)["r"]["n"]

        lit_type, lit_val = run()
        monkeypatch.setattr(tmod, "_LITERAL_MAP_MAX", 0)
        b_type, b_val = run()
        assert (lit_type, lit_val) == ("bigint", 7) == (b_type, b_val)

    def test_translate_bigdict_string_tags_upgrade(self, spark, monkeypatch):
        import gohangout_spark.operators.translate as tmod

        monkeypatch.setattr(tmod, "_LITERAL_MAP_MAX", 0)
        df = spark.createDataFrame([Row(name="m", k="no", tags="old")])
        box = FilterBox(
            Translate(source="k", target="out", dictionary={"a": "x"}),
            fail_tag="nodict",
        )
        got = rows_by_name(box.apply(df))
        assert got["m"]["tags"] == ["old", "nodict"]

    def test_datx_reader_parity(self, tmp_path):
        """Round-trip through the public datx layout: build a small fixture
        with build_datx, read it back with DatxProvider's binary search."""
        import pandas as pd

        from gohangout_spark.operators.ipip import DatxProvider, build_datx

        ranges = [
            ("0.255.255.255", ["*", "*", "*", "", "", "", ""]),
            ("1.0.0.255", ["AU", "QLD", "brisbane", "", "APNIC", "-27.47", "153.03"]),
            ("8.8.8.255", ["US", "CA", "mountainview", "", "Google", "37.4", "-122.1"]),
            ("255.255.255.255", ["*", "*", "*", "", "", "", ""]),
        ]
        path = str(tmp_path / "city.datx")
        with open(path, "wb") as f:
            f.write(build_datx(ranges))

        p = DatxProvider(path)
        out = p.lookup_batch(
            pd.Series(["8.8.8.8", "1.0.0.7", "9.9.9.9", None, "not-an-ip"])
        )
        assert list(out["country_name"]) == ["US", "AU", "*", None, None]
        assert out["isp"][0] == "Google" and out["latitude"][0] == 37.4
        assert out["isp"][1] == "APNIC"
        assert out["isp"][2] is None  # catch-all has empty fields

    def test_datx_provider_in_spark_plan(self, spark, tmp_path):
        """The real provider plugs into the same pandas-UDF plumbing as the
        fake (ipip.go:84-135 behavior parity at the box level)."""
        from gohangout_spark.operators.ipip import build_datx

        ranges = [
            ("8.8.8.255", ["US", "CA", "mountainview", "", "Google", "37.4", "-122.1"]),
            ("255.255.255.255", ["ZZ", "", "", "", "", "", ""]),
        ]
        path = str(tmp_path / "city2.datx")
        with open(path, "wb") as f:
            f.write(build_datx(ranges))
        df = spark.createDataFrame(
            [Row(name="g", ip="8.8.8.8"), Row(name="o", ip="9.9.9.9")]
        )
        got = rows_by_name(FilterBox(IPIP(src="ip", database=path)).apply(df))
        assert got["g"]["country_name"] == "US" and got["g"]["city_name"] == "mountainview"
        assert got["o"]["country_name"] == "ZZ"

    def test_ipip_box_postprocess_applies(self, spark):
        """Plan-level filters must honor box add_fields/remove_fields/failTag
        (topology/filter.go:76-94 applies PostProcess to every filter)."""
        df = spark.createDataFrame(
            [Row(name="pub", ip="8.8.8.8", junk="z"), Row(name="bad", ip=None, junk="z")]
        )
        box = FilterBox(
            IPIP(src="ip"),
            add_fields={"enriched": "1"},
            remove_fields=["junk"],
            fail_tag="geofail",
        )
        got = rows_by_name(box.apply(df))
        assert got["pub"]["enriched"] == "1" and got["pub"]["junk"] is None
        assert got["pub"].get("tags") is None
        assert got["bad"]["enriched"] is None and got["bad"]["junk"] == "z"
        assert got["bad"]["tags"] == ["geofail"]

    def test_ipip_honors_guard(self, spark):
        df = spark.createDataFrame([Row(name="yes", ip="8.8.8.8"), Row(name="no", ip="9.9.9.9")])
        box = FilterBox(IPIP(src="ip"), ifs=['EQ(name,"yes")'])
        got = rows_by_name(box.apply(df))
        assert got["yes"]["country_name"] is not None
        assert got["no"]["country_name"] is None

    def test_filters_parent_if_snapshot(self, spark):
        # child 1 rewrites the field the parent condition reads; child 2 must
        # still run for rows that matched the ORIGINAL condition
        df = spark.createDataFrame([Row(name="r", kind="click"), Row(name="o", kind="view")])
        nested = Filters(
            [
                FilterBox(Uppercase(["kind"])),
                FilterBox(Add({"flagged": "yes"})),
            ]
        )
        box = FilterBox(nested, ifs=['EQ(kind,"click")'])
        got = rows_by_name(box.apply(df))
        assert got["r"]["kind"] == "CLICK" and got["r"]["flagged"] == "yes"
        assert got["o"]["kind"] == "view" and got["o"]["flagged"] is None

    def test_nested_missing_struct_field_is_null(self, spark):
        from gohangout_spark.expr.conditions import compile_condition

        df = spark.createDataFrame([Row(name="r", geo=Row(country="US"))])
        # geo.city does not exist in the struct -> absent == null, no crash
        assert df.filter(compile_condition("Exist(geo,city)", df)).count() == 0
        assert df.filter(compile_condition("Exist(geo,country)", df)).count() == 1

    def test_es_null_render_does_not_kill_line(self, spark):
        from gohangout_spark.sinks import ElasticsearchSink

        df = spark.createDataFrame([(None, "x")], "doc_id string, msg string")
        sink = ElasticsearchSink({"index": "fixed", "id": "[doc_id]"})
        line = sink.bulk_lines(df).first()["line"]
        assert line is not None and '"_id":""' in line


class TestReviewFixesRound2:
    def test_drop_null_condition_keeps_row(self, spark):
        # NULL condition = conditions didn't pass = filter skipped = row kept
        df = spark.createDataFrame(
            [("err1", 1), (None, 2), ("ok", 3)], "event_type string, id int"
        )
        out = FilterBox(Drop(), ifs=['HasPrefix(event_type,"err")']).apply(df)
        assert sorted(r["id"] for r in out.collect()) == [2, 3]

    def test_add_fields_sees_filter_output(self, spark):
        # add_fields renders against the POST-filter event (filter.go:76-86)
        df = spark.createDataFrame([Row(name="r", line="click 42")])
        box = FilterBox(
            Grok(src="line", match=[r"^(?P<etype>\w+) (?P<uid>\d+)$"]),
            add_fields={"note": "etype=%{etype}"},
        )
        got = rows_by_name(box.apply(df))["r"]
        assert got["note"] == "etype=click"

    def test_nested_add_with_removed_source(self, spark):
        # nested target fed by a field removed in the same box: the value is
        # captured before removal (add then remove ordering)
        df = spark.createDataFrame([Row(name="r", y="payload")])
        box = FilterBox(Add({"[m][x]": "%{y}"}), remove_fields=["y"])
        got = rows_by_name(box.apply(df))["r"]
        assert got["m"]["x"] == "payload"
        assert "y" not in got

    def test_string_tags_upgraded_on_failtag(self, spark):
        # reference filter.go:84-89 supports a plain-string tags field:
        # failure turns it into [old_tags, failTag]
        df = spark.createDataFrame(
            [("r1", "bad", "pre-existing"), ("r2", "12", None)],
            "id string, num string, tags string",
        )
        box = FilterBox(Convert({"num": {"to": "int"}}), fail_tag="cfail")
        rows = {r["id"]: r for r in box.apply(df).collect()}
        assert rows["r1"]["tags"] == ["pre-existing", "cfail"]
        assert rows["r2"]["tags"] is None and rows["r2"]["num"] == 12

    def test_failtag_appends_duplicates(self, spark):
        df = spark.createDataFrame([Row(num="abc", tags=["cfail"])])
        box = FilterBox(Convert({"num": {"to": "int"}}), fail_tag="cfail")
        assert box.apply(df).first()["tags"] == ["cfail", "cfail"]  # append, not union

    def test_int_index_on_struct_is_null(self, spark):
        from gohangout_spark.expr.conditions import compile_condition

        df = spark.createDataFrame([Row(name="r", a=Row(x=1, y=2))])
        # $.a[0] over a struct: absent==null, not an AnalysisException
        assert df.filter(compile_condition("EQ($.a[0],1)", df)).count() == 0


class TestDedup:
    def test_batch_order_by_deterministic(self, spark):
        from gohangout_spark.operators import Dedup, FilterBox

        df = spark.createDataFrame(
            [Row(k="a", seq=3, v="late"), Row(k="a", seq=1, v="first"),
             Row(k="b", seq=2, v="only")]
        )
        out = FilterBox(Dedup(fields="k", order_by="seq")).apply(df)
        got = {r["k"]: r["v"] for r in out.collect()}
        assert got == {"a": "first", "b": "only"}

    def test_batch_multi_key_and_box_postprocess(self, spark):
        from gohangout_spark.operators import Dedup, FilterBox

        df = spark.createDataFrame(
            [Row(k="a", t="x", n=1), Row(k="a", t="x", n=1), Row(k="a", t="y", n=2)]
        )
        out = FilterBox(
            Dedup(fields=["k", "t"], order_by="n"),
            add_fields={"deduped": "yes"},
        ).apply(df)
        rows = out.collect()
        assert len(rows) == 2
        assert all(r["deduped"] == "yes" for r in rows)

    def test_if_guard_passthrough(self, spark):
        """Only condition-matching rows are deduped; others pass through
        (including their duplicates)."""
        from gohangout_spark.operators import Dedup, FilterBox

        df = spark.createDataFrame(
            [Row(k="a", grp="hot"), Row(k="a", grp="hot"),
             Row(k="z", grp="cold"), Row(k="z", grp="cold")]
        )
        out = FilterBox(
            Dedup(fields="k"), ifs=['EQ(grp,"hot")'], ts_field="grp"
        ).apply(df)
        got = sorted((r["k"], r["grp"]) for r in out.collect())
        assert got == [("a", "hot"), ("z", "cold"), ("z", "cold")]

    def test_streaming_requires_keep_within(self, spark, tmp_path):
        import datetime

        import pytest as _pytest

        from gohangout_spark.operators import Dedup, FilterBox

        p = str(tmp_path / "ddsrc")
        spark.createDataFrame(
            [Row(eid=1, ts=datetime.datetime(2024, 1, 1))]
        ).write.parquet(p)
        stream = spark.readStream.schema("eid long, ts timestamp").parquet(p)
        with _pytest.raises(ValueError, match="keep_within"):
            FilterBox(Dedup(fields="eid"), ts_field="ts").apply(stream)

    def test_streaming_replay_dedup(self, spark, tmp_path):
        """Kafka-replay shape: the same event ids delivered again in a later
        micro-batch are suppressed within the keep_within horizon."""
        import datetime

        from gohangout_spark.operators import Dedup, FilterBox

        src = str(tmp_path / "replay_src")
        base = datetime.datetime(2024, 1, 1)
        mk = lambda ids: spark.createDataFrame(
            [Row(eid=i, ts=base + datetime.timedelta(seconds=i)) for i in ids]
        )
        mk([1, 2, 3, 2]).coalesce(1).write.mode("append").parquet(src)   # intra-batch dup
        mk([2, 3, 4]).coalesce(1).write.mode("append").parquet(src)      # replayed batch
        stream = (
            spark.readStream.schema("eid long, ts timestamp")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = FilterBox(
            Dedup(fields="eid", timestamp="ts", keep_within="1 hour"),
            ts_field="ts",
        ).apply(stream)
        q = (
            out.writeStream.format("memory").queryName("dd_replay")
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            got = sorted(r["eid"] for r in spark.sql("SELECT * FROM dd_replay").collect())
        finally:
            q.stop()
        assert got == [1, 2, 3, 4], got

    def test_streaming_default_timestamp(self, spark, tmp_path):
        """Streaming Dedup on the default ``@timestamp`` field: the
        watermark column name is quoted, so ``@`` parses."""
        import datetime

        from gohangout_spark.operators import Dedup, FilterBox

        src = str(tmp_path / "dd_at_src")
        base = datetime.datetime(2024, 1, 1)
        spark.createDataFrame(
            [(i, base + datetime.timedelta(seconds=i)) for i in (1, 2, 2, 3)],
            "eid long, `@timestamp` timestamp",
        ).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema("eid long, `@timestamp` timestamp").parquet(src)
        out = FilterBox(Dedup(fields="eid", keep_within="1 hour")).apply(stream)
        q = (
            out.writeStream.format("memory").queryName("dd_default_ts")
            .outputMode("append").start()
        )
        try:
            q.processAllAvailable()
            got = sorted(r["eid"] for r in spark.sql("SELECT * FROM dd_default_ts").collect())
        finally:
            q.stop()
        assert got == [1, 2, 3], got


class TestAsofLookup:
    def _dim(self, spark, tmp_path):
        import datetime

        t = lambda d: datetime.datetime(2024, 1, d)
        path = str(tmp_path / "price_dim")
        spark.createDataFrame(
            [Row(item="x", valid_from=t(1), price=10.0),
             Row(item="x", valid_from=t(10), price=12.5),
             Row(item="y", valid_from=t(5), price=99.0)]
        ).write.parquet(path)
        return path, t

    def test_yaml_enrichment_with_failtag(self, spark, tmp_path):
        import yaml as _yaml

        from gohangout_spark.pipeline import Pipeline
        from gohangout_spark.sinks import MemorySink

        dim, t = self._dim(spark, tmp_path)
        src = str(tmp_path / "al_src")
        spark.createDataFrame(
            [Row(item="x", ts=t(3), eid=0),    # price 10.0 era
             Row(item="x", ts=t(20), eid=1),   # price 12.5 era
             Row(item="y", ts=t(4), eid=2),    # before y's first version
             Row(item="z", ts=t(4), eid=3)]    # unknown item
        ).write.parquet(src)
        yml = f"""
inputs:
- File:
    path: "{src}"
    format: parquet
filters:
- AsofLookup:
    path: "{dim}"
    on: item
    timestamp: ts
    right_timestamp: valid_from
    select: [price]
    failTag: _nodim
timestamp_field: ts
outputs:
- Stdout: {{}}
"""
        p = Pipeline.from_config(yml, is_text=True, sink_overrides={"Stdout": MemorySink})
        p.run_batch(spark)
        rows = {r["eid"]: r for r in p.sinks[0].rows}
        assert rows[0]["price"] == 10.0
        assert rows[1]["price"] == 12.5
        assert rows[2]["price"] is None and "_nodim" in (rows[2]["tags"] or [])
        assert rows[3]["price"] is None and "_nodim" in (rows[3]["tags"] or [])

    def test_tolerance_and_suffix(self, spark, tmp_path):
        from gohangout_spark.operators import AsofLookup, FilterBox

        dim, t = self._dim(spark, tmp_path)
        df = spark.createDataFrame([Row(item="x", ts=t(25), eid=0)])
        out = FilterBox(
            AsofLookup(
                path=dim, on="item", timestamp="ts",
                right_timestamp="valid_from", tolerance_seconds=5 * 86400,
            )
        ).apply(df)
        row = out.collect()[0]
        # last version is 15 days old > 5-day tolerance: no match
        assert row["price"] is None

    def test_streaming_rejected(self, spark, tmp_path):
        import pytest as _pytest

        from gohangout_spark.operators import AsofLookup, FilterBox

        dim, _ = self._dim(spark, tmp_path)
        src = str(tmp_path / "al_stream")
        spark.createDataFrame([Row(item="x")]).write.parquet(src)
        stream = spark.readStream.schema("item string").parquet(src)
        with _pytest.raises(ValueError, match="batch-only"):
            FilterBox(
                AsofLookup(path=dim, on="item", timestamp="ts",
                           right_timestamp="valid_from")
            ).apply(stream)


class TestCanonicalize:
    def test_yaml_filter_sequences_stages(self, spark):
        from pyspark.sql import Row

        from gohangout_spark.operators import Canonicalize, Chain, FilterBox

        df = spark.createDataFrame(
            [Row(text="<p>cafÃ© &amp; tea</p>\x07")]
        )
        out = Chain(
            [FilterBox(Canonicalize(src="text", html=True, nfc=True))]
        ).apply(df)
        (got,) = out.select("text").first()
        assert got == "café & tea"

    def test_default_stages_replace_in_place(self, spark):
        from pyspark.sql import Row

        from gohangout_spark.operators import Canonicalize, FilterBox

        df = spark.createDataFrame([Row(text="ok\x00fine")])
        out = FilterBox(Canonicalize(src="text")).apply(df)
        assert out.select("text").first()[0] == "okfine"

    def test_registry_builds_from_yaml_name(self):
        from gohangout_spark.operators import FILTER_REGISTRY

        f = FILTER_REGISTRY["Canonicalize"](src="text", nfc=True)
        assert f.target == "text" and f.nfc
