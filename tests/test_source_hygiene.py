"""Source hygiene without a Spark session: every package module compiles
with SyntaxWarning and DeprecationWarning raised as errors (e.g. an invalid
``\\s`` escape in a docstring), so the package imports cleanly under
``python -W error``; the AQE-aware plan walk has one definition; no
module uses the deprecated ``PandasUDFType``; the A/B runner's variant
specs parse; each I/O transport setting is read in one place; no module
imports another's private names; the condition grammars are parsed in one
place each; the replay gates' scaffolding is written once."""

import importlib.util
import pathlib
import re
import warnings

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "gohangout_spark"


def test_modules_compile_without_warnings():
    failures = []
    for path in sorted(PKG.rglob("*.py")):
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except SyntaxError as e:
                failures.append(f"{path.relative_to(PKG)}:{e.lineno}: {e.msg}")
    assert not failures, failures


def test_plan_walk_defined_once():
    """Only plan_metrics.py follows the AQE wrappers; everything else walks
    plans through it."""
    allowed = {PKG / "plan_metrics.py", pathlib.Path(__file__).resolve()}
    names = ("AdaptiveSparkPlanExec", "QueryStageExec")
    offenders = [
        str(path.relative_to(ROOT))
        for d in ("gohangout_spark", "tests", "tools")
        for path in sorted((ROOT / d).rglob("*.py"))
        if path not in allowed and any(n in path.read_text(encoding="utf-8") for n in names)
    ]
    assert not offenders, offenders


def test_no_deprecated_pandas_udf_type():
    """pandas UDFs take their kind from type hints; the deprecated
    PandasUDFType argument warns on every call."""
    offenders = [
        str(path.relative_to(ROOT))
        for path in sorted(PKG.rglob("*.py"))
        if "PandasUDFType" in path.read_text(encoding="utf-8")
    ]
    assert not offenders, offenders


def test_ab_bench_spec_parser():
    from gohangout_spark.workload import tpch_q6

    spec = importlib.util.spec_from_file_location("ab_bench", ROOT / "tools" / "ab_bench.py")
    ab_bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ab_bench)
    parse_spec = ab_bench.parse_spec
    assert parse_spec("a=gohangout_spark.workload:tpch_q6") == ("a", tpch_q6)
    for bad in ("gohangout_spark.workload:tpch_q6", "a=gohangout_spark.workload",
                "=gohangout_spark.workload:tpch_q6", "a=:tpch_q6"):
        with pytest.raises(ValueError, match="label=module:fn"):
            parse_spec(bad)


def test_io_transport_defined_once():
    """The bulk engine's settings are read from a sink's conf only by the
    shared bulk-sink base, and the dev-tier sources share one spool writer."""
    sinks = (PKG / "sinks" / "sinks.py").read_text(encoding="utf-8")
    keys = ("bulk_actions", "bulk_size", "flush_interval", "retry", "no_host_wait", "compress")
    reads = {
        k: len(re.findall(rf"""(?:\.get\(|\[)\s*["']{k}["']""", sinks)) for k in keys
    }
    assert all(n == 1 for n in reads.values()), reads
    sources = (PKG / "sources" / "sources.py").read_text(encoding="utf-8")
    writers = re.findall(r"os\.(?:rename|replace)\([^)]*\.tmp", sources)
    assert len(writers) == 1, writers


def _imports_private(path: pathlib.Path):
    """(line, name) for each ``_name`` imported from a package module, or
    read as ``module._name`` off an imported package module."""
    import ast

    def is_module(dotted: str) -> bool:
        rel = ROOT.joinpath(*dotted.split("."))
        return rel.with_suffix(".py").exists() or (rel / "__init__.py").exists()

    def private(name: str) -> bool:
        return name.startswith("_") and not name.startswith("__")

    tree = ast.parse(path.read_text(encoding="utf-8"))
    modules: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("gohangout_spark"):
            for a in node.names:
                if private(a.name):
                    yield node.lineno, a.name
                elif is_module(f"{node.module}.{a.name}"):
                    modules.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("gohangout_spark") and a.asname:
                    modules.add(a.asname)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and private(node.attr)
        ):
            yield node.lineno, f"{node.value.id}.{node.attr}"


def test_no_private_cross_module_imports():
    """A helper another module needs has a public name; no module reaches
    into a package module's private names."""
    offenders = [
        f"{path.relative_to(ROOT)}:{line}: {name}"
        for d in ("gohangout_spark", "tools")
        for path in sorted((ROOT / d).rglob("*.py"))
        for line, name in _imports_private(path)
    ]
    assert not offenders, offenders


def test_condition_grammar_defined_once():
    """The predicate DSL (its ``&& || !`` precedence table) and the
    ``{{if X}}y{{end}}`` template shape are parsed only in
    expr/conditions.py; template actions compile only in expr/render.py."""
    expr = PKG / "expr"
    assert not (expr / "dict_conditions.py").exists()
    assert not (expr / "template_conditions.py").exists()
    grammar = re.compile(r"""["']&&["']\s*:|\\\{\\\{\\s\*if""")
    owners = [
        str(path.relative_to(PKG))
        for path in sorted(PKG.rglob("*.py"))
        if grammar.search(path.read_text(encoding="utf-8"))
    ]
    assert owners == ["expr/conditions.py"], owners
    action = re.compile(r"""elif c in ["']\(\)""")
    compilers = [
        str(path.relative_to(PKG))
        for path in sorted(PKG.rglob("*.py"))
        if action.search(path.read_text(encoding="utf-8"))
    ]
    assert compilers == ["expr/render.py"], compilers


def test_replay_scaffold_defined_once():
    """The registry's replay gates share one epoch-file stream (one
    maxFilesPerTrigger read, one mtime stamp) and one Kafka event schema;
    the tools reuse the epoch writer instead of copying it."""
    workload = (PKG / "workload.py").read_text(encoding="utf-8")
    assert workload.count('"maxFilesPerTrigger"') == 1
    assert workload.count("os.utime(") == 1
    assert workload.count('"event_id bigint, user_id bigint, event_type string"') == 1
    stampers = [
        str(path.relative_to(ROOT))
        for path in sorted((ROOT / "tools").rglob("*.py"))
        if "os.utime(" in path.read_text(encoding="utf-8")
    ]
    assert not stampers, stampers
