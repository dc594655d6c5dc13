"""Every package module compiles with SyntaxWarning and DeprecationWarning
raised as errors (e.g. an invalid ``\\s`` escape in a docstring), so the
package imports cleanly under ``python -W error``."""

import pathlib
import warnings

PKG = pathlib.Path(__file__).resolve().parent.parent / "gohangout_spark"


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
