"""Expression-layer tests: field paths, condition DSL, date layouts, renders.

Mirrors the reference's condition_filter/filter_test.go truth tables and
filter/date_test.go layout cases.
"""

import datetime

import pytest
from pyspark.sql import Row, functions as F

from gohangout_spark.expr.conditions import (
    ConditionSyntaxError,
    compile_condition,
    compile_conditions,
    parse_go_duration,
)
from gohangout_spark.expr.dateformat import go_layout_to_java
from gohangout_spark.expr.paths import delete_field, field_col, parse_field, set_field
from gohangout_spark.expr.render import compile_render


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        Row(
            name="childe",
            age=20,
            tags=["app", "error"],
            message="hello world",
            user=Row(name="liujia", age=30),
            ts=datetime.datetime(2024, 1, 1, 0, 0, 0),
        ),
        Row(
            name="other",
            age=None,
            tags=[],
            message="123abc",
            user=Row(name="xjia", age=None),
            ts=datetime.datetime(2030, 1, 1, 0, 0, 0),
        ),
    ]
    return spark.createDataFrame(rows)


def names_matching(df, cond):
    return sorted(r["name"] for r in df.filter(cond).collect())


class TestPaths:
    def test_parse(self):
        assert parse_field("message") == ["message"]
        assert parse_field("[geo][cityname]") == ["geo", "cityname"]
        assert parse_field("$.store.book[0].title") == ["store", "book", 0, "title"]

    def test_nested_read(self, df):
        vals = [r[0] for r in df.select(field_col("[user][name]", df)).collect()]
        assert vals == ["liujia", "xjia"]

    def test_missing_column_is_null(self, df):
        vals = [r[0] for r in df.select(field_col("nope", df)).collect()]
        assert vals == [None, None]

    def test_set_and_delete_nested(self, df):
        out = set_field(df, "[user][city]", F.lit("bj"))
        assert [r[0] for r in out.select("user.city").collect()] == ["bj", "bj"]
        out2 = delete_field(out, "[user][city]")
        assert "city" not in out2.schema["user"].dataType.names
        out3 = delete_field(df, "message")
        assert "message" not in out3.columns

    def test_set_creates_struct(self, df):
        out = set_field(df, "[meta][k]", F.lit(1))
        assert [r[0] for r in out.select("meta.k").collect()] == [1, 1]


class TestConditions:
    @pytest.mark.parametrize(
        "cond,expected",
        [
            ('EQ(name,"childe")', ["childe"]),
            ("EQ(age,20)", ["childe"]),
            ("EQ(age,nil)", ["other"]),
            ("EQ(user,age,nil)", ["other"]),
            ("Exist(age)", ["childe"]),
            ("!Exist(age)", ["other"]),
            ("Exist(user,name)", ["childe", "other"]),
            ('IN(tags,"app")', ["childe"]),
            ('HasPrefix(name,"chi")', ["childe"]),
            ('HasSuffix(user,name,"jia")', ["childe", "other"]),
            ('Contains(message,"world")', ["childe"]),
            ('ContainsAny(message,"xyz")', []),
            ('ContainsAny(message,"ow")', ["childe"]),
            ('Match(message,"^\\d+")', ["other"]),
            ('EQ(name,"childe") && EQ(age,20)', ["childe"]),
            ('EQ(name,"childe") || EQ(name,"other")', ["childe", "other"]),
            ('!EQ(name,"childe")', ["other"]),
            ('!(EQ(name,"childe") || EQ(name,"other"))', []),
            ('EQ(name,"nope") || EQ(name,"childe") && Exist(age)', ["childe"]),
            ("Before(24h)", ["childe"]),
            ("After(24h)", ["other"]),
        ],
    )
    def test_truth_table(self, df, cond, expected):
        assert names_matching(df, compile_condition(cond, df, ts_field="ts")) == expected

    def test_and_list(self, df):
        c = compile_conditions(['EQ(name,"childe")', "Exist(age)"], df, ts_field="ts")
        assert names_matching(df, c) == ["childe"]
        assert names_matching(df, compile_conditions([], df)) == ["childe", "other"]

    def test_random(self, spark):
        big = spark.range(2000).withColumn("name", F.col("id").cast("string"))
        n = big.filter(compile_condition("Random(2)", big)).count()
        assert 700 < n < 1300  # p=1/2

    def test_syntax_errors(self):
        for bad in ["EQ(name,unquoted)", "Bogus(x)", "EQ(a,1) &&", "(EQ(a,1)"]:
            with pytest.raises(ConditionSyntaxError):
                compile_condition(bad)

    def test_go_duration(self):
        assert parse_go_duration("24h") == 86400
        assert parse_go_duration("-1h30m") == -5400
        assert parse_go_duration("100ms") == pytest.approx(0.1)


class TestDateFormat:
    @pytest.mark.parametrize(
        "go,java",
        [
            ("2006-01-02 15:04:05", "yyyy-MM-dd HH:mm:ss"),
            ("2006-01-02T15:04:05.000Z07:00", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"),
            ("02/Jan/2006:15:04:05 -0700", "dd/MMM/yyyy:HH:mm:ss XX"),
            ("2006年01月02日", "yyyy'年'MM'月'dd'日'"),
        ],
    )
    def test_layouts(self, go, java):
        assert go_layout_to_java(go) == java

    def test_roundtrip_parse(self, spark):
        fmt = go_layout_to_java("2006-01-02T15:04:05")
        df = spark.createDataFrame([("2024-03-04T05:06:07",)], ["s"])
        out = df.select(F.to_timestamp("s", fmt).alias("t")).first()["t"]
        assert out == datetime.datetime(2024, 3, 4, 5, 6, 7)


class TestRender:
    def test_literal_and_field(self, df):
        out = df.select(
            compile_render("weblog-static", df).alias("lit"),
            compile_render("[user][name]", df).alias("f"),
            compile_render("name", df).alias("bare"),
        ).first()
        assert out["lit"] == "weblog-static"
        assert out["f"] == "liujia"
        assert out["bare"] == "childe"

    def test_index_pattern(self, df):
        col = compile_render("web-%{name}-%{+2006.01.02}", df, ts_field="ts")
        assert df.select(col.alias("x")).first()["x"] == "web-childe-2024.01.01"

    def test_template(self, df):
        col = compile_render("{{.name}}.{{.user.name}}", df)
        assert df.select(col.alias("x")).first()["x"] == "childe.liujia"

    def test_unsupported_template(self, df):
        with pytest.raises(ValueError):
            compile_render("{{printf .name}}", df)

    def test_template_functions(self, df):
        """Custom template funcs (template_value_render.go:41-158)."""
        out = df.select(
            compile_render("{{plus .age 5}}", df).alias("plus"),
            compile_render("{{multiply .age 2}}", df).alias("mult"),
            compile_render("{{upper .name}}", df).alias("up"),
            compile_render("a-{{minus .age .user.age}}-z", df).alias("mixed"),
        ).first()
        assert out["plus"] == "25.0" and out["mult"] == "40.0"
        assert out["up"] == "CHILDE"
        assert out["mixed"] == "a--10.0-z"

    def test_template_now(self, df):
        # reference `now` returns Unix MILLISECONDS (template_value_render.go:58)
        v = df.select(compile_render("{{now}}", df).alias("n")).first()["n"]
        assert int(v) > 1_600_000_000_000

    def test_template_sprig_subset(self, df):
        out = df.select(
            compile_render('{{trimPrefix "ch" .name}}', df).alias("tp"),
            compile_render('{{trimSuffix "de" .name}}', df).alias("ts"),
            compile_render("{{add .age 5 1}}", df).alias("add"),
            compile_render('{{default "anon" .missing}}', df).alias("dflt"),
            compile_render("{{len .name}}", df).alias("ln"),
            compile_render('{{repeat 2 "ab"}}', df).alias("rep"),
            compile_render('{{substr 0 3 .name}}', df).alias("sub"),
            compile_render('{{contains .name "hil"}}', df).alias("has"),
            compile_render('{{replace .name "ch" "x" -1}}', df).alias("repl"),
            compile_render('{{b64enc .name}}', df).alias("b64"),
        ).first()
        assert out["tp"] == "ilde" and out["ts"] == "chil"
        assert out["add"] == "26"  # sprig int math, not "26.0"
        assert out["dflt"] == "anon"
        assert out["ln"] == "6" and out["rep"] == "abab" and out["sub"] == "chi"
        assert out["has"] == "true" and out["repl"] == "xilde"
        import base64

        assert base64.b64decode(out["b64"]).decode() == "childe"

    def test_template_sprig_tranche2_columns(self, df):
        """r4 Column-subset additions: math / casts / date / urlquery stay
        JVM-side (no UDF). Expected values are documented sprig outputs."""
        out = df.select(
            compile_render("{{floor 3.7}}", df).alias("fl"),
            compile_render("{{ceil 3.1}}", df).alias("ce"),
            compile_render("{{round 2 3.14159}}", df).alias("ro"),
            compile_render("{{max 1 7 3}}", df).alias("mx"),
            compile_render("{{min 1 7 3}}", df).alias("mn"),
            compile_render('{{int "42.9"}}', df).alias("iv"),
            compile_render('{{float64 "1.5"}}', df).alias("fv"),
            compile_render("{{empty .missing}}", df).alias("em"),
            compile_render('{{urlquery "a b&c"}}', df).alias("uq"),
        ).first()
        assert out["fl"] == "3.0" and out["ce"] == "4.0"
        assert out["ro"] == "3.14"
        assert out["mx"] == "7" and out["mn"] == "1"
        assert out["iv"] == "42" and out["fv"] == "1.5"
        assert out["em"] == "true"
        assert out["uq"] == "a+b%26c"

    def test_template_sprig_list_functions(self, spark):
        """r4 tranche 3: sprig list functions over array-valued event
        fields, Column-compiled, value-last. Intermediate pipeline stages
        pass arrays through; only the final result stringifies."""
        from pyspark.sql import Row

        d = spark.createDataFrame(
            [Row(tags=["b", "a", "b", "", "c"], name="x")]
        )
        table = {
            '{{join "," .tags}}': "b,a,b,,c",
            "{{.tags | uniq | sortAlpha}}": "[, a, b, c]",  # array->string cast
            '{{.tags | compact | join "-"}}': "b-a-b-c",
            "{{first .tags}}": "b",
            "{{last .tags}}": "c",
            "{{.tags | rest | first}}": "a",
            "{{.tags | initial | last}}": "",
            '{{has "c" .tags}}': "true",
            '{{has "z" .tags}}': "false",
            '{{.tags | without "b" | compact | join ","}}': "a,c",
            '{{splitList "-" "a-b-c" | last}}': "c",
            "{{.tags | reverse | first}}": "c",
        }
        cols = [
            compile_render(t, d).alias(f"c{i}") for i, t in enumerate(table)
        ]
        row = d.select(*cols).first()
        for i, (t, expect) in enumerate(table.items()):
            assert row[f"c{i}"] == expect, f"{t}: {row[f'c{i}']!r} != {expect!r}"

    def test_template_pipeline(self, df):
        out = df.select(
            compile_render("{{.name | upper}}", df).alias("up"),
            compile_render("{{.name | upper | trunc 3}}", df).alias("both"),
            compile_render('{{.name | hasprefix "chi"}}', df).alias("hp"),
        ).first()
        assert out["up"] == "CHILDE"
        assert out["both"] == "CHI"
        # Go pipelines append the piped value LAST: hasprefix("chi", name)
        assert out["hp"] == "false"

    def test_sprig_long_tail_udf_fallback(self, spark):
        """Opt-in pandas-UDF fallback for sprig funcs outside the Column
        subset (template_value_render.go:42 registers the FULL sprig.FuncMap).
        Expected values are the documented sprig/goutils outputs."""
        from pyspark.sql import Row

        from gohangout_spark.expr.render import compile_render

        d = spark.createDataFrame([Row(s="hello world", c="FirstName", n=2)])

        # off by default: unknown action still raises at compile time
        with pytest.raises(ValueError):
            compile_render("{{snakecase .c}}", d)
        # arity misuse of a SUPPORTED func must still raise, not fall back
        with pytest.raises(ValueError):
            compile_render("{{upper .s .c}}", d, allow_udf_templates=True)
        # genuinely unknown function raises even with the opt-in
        with pytest.raises(ValueError):
            compile_render("{{printf .s}}", d, allow_udf_templates=True)

        table = {
            "{{snakecase .c}}": "first_name",
            "{{kebabcase .c}}": "first-name",
            '{{camelcase "http_server"}}': "HttpServer",
            '{{swapcase "This Is A.Test"}}': "tHIS iS a.tEST",
            '{{untitle "Hello World"}}': "hello world",
            '{{initials "First Try"}}': "FT",
            '{{abbrev 5 "hello world"}}': "he...",
            '{{wrap 5 "Hello World"}}': "Hello\nWorld",
            '{{indent 4 "ab"}}': "    ab",
            '{{nindent 4 "ab"}}': "\n    ab",
            '{{squote "x"}}': "'x'",
            '{{plural "anchovy" "anchovies" 1}}': "anchovy",
            '{{plural "anchovy" "anchovies" 2}}': "anchovies",
            "{{seq 3}}": "1 2 3",
            "{{seq 2 5}}": "2 3 4 5",
            '{{regexMatch "^[a-z]+$" "hello"}}': "true",
            '{{regexFind "[a-z]{3}" "abcd1234"}}': "abc",
            '{{regexReplaceAll "a(x*)b" "ab" "${1}W"}}': "W",
            # pipeline into the long tail, and long tail into the subset
            "{{.s | snakecase}}": "hello_world",
            "{{.c | snakecase | upper}}": "FIRST_NAME",
            # tranche 2 (r4): Go path helpers + adler32 (documented Go
            # path.Base/Dir/Ext/Clean/IsAbs outputs)
            '{{base "/a/b/c.txt"}}': "c.txt",
            '{{base ""}}': ".",
            '{{base "///"}}': "/",
            '{{dir "/a/b/c.txt"}}': "/a/b",
            '{{dir "plain"}}': ".",
            '{{ext "/a/b/c.txt"}}': ".txt",
            '{{clean "a/b/../c//d"}}': "a/c/d",
            '{{isAbs "/abs/path"}}': "true",
            '{{osIsAbs "rel/path"}}': "false",
            '{{adler32sum "hello"}}': "103547413",
        }
        cols = [
            compile_render(t, d, allow_udf_templates=True).alias(f"c{i}")
            for i, t in enumerate(table)
        ]
        row = d.select(*cols).first()
        for i, (t, expect) in enumerate(table.items()):
            assert row[f"c{i}"] == expect, f"{t}: {row[f'c{i}']!r} != {expect!r}"

        # NULL propagates like the Column path
        dn = spark.createDataFrame([Row(s=None)], "s string")
        assert (
            dn.select(compile_render("{{snakecase .s}}", dn, allow_udf_templates=True).alias("x"))
            .first()["x"]
            is None
        )

    def test_template_timestamp_is_event_time_ms(self, df):
        # reference `timestamp` reads the EVENT @timestamp (not wall clock),
        # 0 when absent (template_value_render.go:59-68)
        import datetime

        spark = df.sparkSession
        from pyspark.sql import Row

        d2 = spark.createDataFrame(
            [Row(ts=datetime.datetime(2024, 1, 1, 0, 0, 0)), Row(ts=None)]
        )
        vals = [
            r["t"]
            for r in d2.select(
                compile_render("{{timestamp}}", d2, ts_field="ts").alias("t")
            ).collect()
        ]
        assert sorted(vals) == ["0", "1704067200000"]

    def test_template_event_dot_argument(self, df):
        # Go passes the event as `.`: `before . "24h"` is the same render as
        # the shorthand `before "24h"`; `timestamp .` is `timestamp`
        got = {
            r["name"]: r
            for r in df.select(
                "name",
                compile_render('{{before . "24h"}}', df, ts_field="ts").alias("dot"),
                compile_render('{{before "24h"}}', df, ts_field="ts").alias("short"),
                compile_render("{{timestamp .}}", df, ts_field="ts").alias("ts_ms"),
            ).collect()
        }
        assert got["childe"]["dot"] == got["childe"]["short"] == "true"
        assert got["other"]["dot"] == got["other"]["short"] == "false"
        assert got["childe"]["ts_ms"] == "1704067200000"

    def test_template_builtins_and_parens(self, df):
        out = df.select(
            compile_render('{{eq .name "childe"}}', df).alias("eq"),
            compile_render('{{and (eq .name "childe") (gt .age 10)}}', df).alias("and"),
            compile_render("{{not .missing}}", df).alias("not"),
            compile_render("{{upper (.name | trunc 3)}}", df).alias("paren"),
            compile_render("{{.name|upper}}", df).alias("nospace"),
        ).first()
        assert out["eq"] == "true" and out["and"] == "true" and out["not"] == "true"
        assert out["paren"] == "CHI" and out["nospace"] == "CHILDE"
        with pytest.raises(ValueError):
            compile_render("{{upper .}}", df)
        with pytest.raises(ValueError):
            compile_render("{{upper (.name}}", df)


class TestTemplateConditions:
    """Go-template condition syntax ({{if ...}}y{{end}}) — the reference's
    second condition dialect (condition_filter/filter.go:23-41)."""

    @pytest.mark.parametrize(
        "cond,expected",
        [
            ("{{if .age}}y{{end}}", ["childe"]),
            ("{{if .name}}y{{end}}", ["childe", "other"]),
            ('{{if eq .name "childe"}}y{{end}}', ["childe"]),
            ('{{if ne .name "childe"}}y{{end}}', ["other"]),
            ("{{if eq .age 20}}y{{end}}", ["childe"]),
            ("{{if gt .age 10}}y{{end}}", ["childe"]),
            ('{{if eq .user.name "liujia"}}y{{end}}', ["childe"]),
            ('{{if and (eq .name "childe") (.age)}}y{{end}}', ["childe"]),
            ('{{if or (eq .name "nope") (eq .name "other")}}y{{end}}', ["other"]),
            ('{{if not (eq .name "childe")}}y{{end}}', ["other"]),
        ],
    )
    def test_truth_table(self, df, cond, expected):
        assert names_matching(df, compile_condition(cond, df, ts_field="ts")) == expected

    # Go's ``if`` by the field's type: false, nil and empty strings,
    # arrays and maps are empty; a struct is empty only when nil. A number
    # is empty only when nil: the reference decodes JSON numbers as
    # json.Number strings, so its ``{{if .n}}`` keeps n=0
    TRUTH_BY_TYPE = [
        ("t_bool", "boolean", True, True),
        ("f_bool", "boolean", False, False),
        ("n_bool", "boolean", None, False),
        ("t_long", "bigint", 7, True),
        ("z_long", "bigint", 0, True),
        ("n_long", "bigint", None, False),
        ("z_double", "double", 0.0, True),
        ("t_str", "string", "false", True),
        ("f_str", "string", "", False),
        ("n_str", "string", None, False),
        ("t_arr", "array<int>", [0], True),
        ("f_arr", "array<int>", [], False),
        ("t_map", "map<string,int>", {"a": 0}, True),
        ("f_map", "map<string,int>", {}, False),
        ("t_struct", "struct<a:int>", (None,), True),
        ("n_struct", "struct<a:int>", None, False),
    ]

    def test_if_truth_by_type(self, spark):
        ddl = ", ".join(f"{c} {t}" for c, t, _, _ in self.TRUTH_BY_TYPE)
        one = spark.createDataFrame([tuple(v for _, _, v, _ in self.TRUTH_BY_TYPE)], ddl)
        conds = {c: "{{if .%s}}y{{end}}" % c for c, *_ in self.TRUTH_BY_TYPE}
        conds["absent"] = "{{if .absent}}y{{end}}"
        conds["not_f_bool"] = "{{if not .f_bool}}y{{end}}"
        got = one.select(
            *[compile_condition(c, one).alias(n) for n, c in conds.items()]
        ).first().asDict()
        want = {c: e for c, _, _, e in self.TRUTH_BY_TYPE}
        assert got == {**want, "absent": False, "not_f_bool": True}

    def test_if_truth_of_json_decoded_zero(self, spark):
        from gohangout_spark.sources.sources import apply_codec

        raw = spark.createDataFrame([('{"n": 0, "x": 0.0}',)], "value string")
        ev = apply_codec(raw, "json", "n bigint, x double")
        got = ev.select(
            compile_condition("{{if .n}}y{{end}}", ev).alias("n"),
            compile_condition("{{if .x}}y{{end}}", ev).alias("x"),
        ).first()
        assert (got.n, got.x) == (True, True)

    def test_if_truth_needs_a_frame(self):
        with pytest.raises(ValueError, match="frame"):
            compile_condition("{{if .flag}}y{{end}}")

    def test_before_after_dot(self, df):
        assert names_matching(df, compile_condition('{{if before . "24h"}}y{{end}}', df, ts_field="ts")) == ["childe"]
        assert names_matching(df, compile_condition('{{if after . "24h"}}y{{end}}', df, ts_field="ts")) == ["other"]

    def test_unsupported_raises(self, df):
        from gohangout_spark.expr.conditions import TemplateConditionError

        for bad in ["{{now}}", "{{if printf .x}}y{{end}}", "{{if .a}}n{{end}}"]:
            with pytest.raises((TemplateConditionError, ValueError)):
                compile_condition(bad, df)


class TestMinorEdges:
    def test_subsecond_duration_condition(self, df):
        # ns/ms durations must produce a parseable INTERVAL literal
        assert names_matching(df, compile_condition("Before(100ms)", df, ts_field="ts")) == ["childe"]
        assert names_matching(df, compile_condition("Before(500ns)", df, ts_field="ts")) == ["childe"]

    def test_escaped_quote_in_args(self, df):
        # value containing an escaped quote must not terminate the string early
        col = compile_condition('Contains(message,"\\"x")', df)
        assert names_matching(df, col) == []
        col2 = compile_condition('EQ(name,"a\\\\")', df)  # trailing backslash value
        assert names_matching(df, col2) == []
