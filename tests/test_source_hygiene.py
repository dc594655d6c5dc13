"""Source hygiene without a Spark session: every package module compiles
with SyntaxWarning and DeprecationWarning raised as errors (e.g. an invalid
``\\s`` escape in a docstring), so the package imports cleanly under
``python -W error``; the AQE-aware plan walk has one definition; no
module uses the deprecated ``PandasUDFType``; the A/B runner's variant
specs parse; each I/O transport setting is read in one place."""

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
