"""What a Python worker imports when it unpickles the CEP stream
operator: its own module, not the other streaming families and the
batch queries they pull in (the package exports resolve lazily)."""

from __future__ import annotations

import os
import subprocess
import sys
import types

_PKG = "flink_cep_examples_spark"
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _loaded(statement: str) -> list[str]:
    code = (
        f"import sys\n{statement}\n"
        f"print(*sorted(m for m in sys.modules if m.startswith('{_PKG}')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_ROOT, capture_output=True,
        text=True, check=True,
    )
    return out.stdout.split()


def test_cep_stream_loads_no_other_family():
    loaded = _loaded(f"import {_PKG}.streaming.cep_stream")
    assert not [m for m in loaded if m.startswith(f"{_PKG}.queries")]
    # the CEP stream and the keyed-process stream (the package binds its
    # same-named function eagerly), none of the non-CEP families
    assert [m for m in loaded if m.startswith(f"{_PKG}.streaming.")] == [
        f"{_PKG}.streaming.cep_stream",
        f"{_PKG}.streaming.keyed_process_stream",
    ]


def test_package_exports_still_resolve():
    from flink_cep_examples_spark import streaming

    for name in streaming.__all__:
        assert callable(getattr(streaming, name)), name
    # a later submodule import leaves the exported function bound
    import flink_cep_examples_spark.streaming.keyed_process_stream  # noqa: F401

    assert isinstance(streaming.keyed_process_stream, types.FunctionType)
    from flink_cep_examples_spark.streaming import match_pattern_stream
    from flink_cep_examples_spark.streaming.cep_stream import (
        match_pattern_stream as direct,
    )

    assert match_pattern_stream is direct
