"""The package surface the benchmark under ``perfbench/`` relies on.

The benchmark scripts import ``rtfproc_spark`` names directly, build an
``IdempotentSink`` from a path alone, and swap ``functions.rtf.RTFEngine``
for a counting subclass to measure the share of rows the pass-through
prefilter sends to the engine. These tests pin that surface without
starting Spark, so a refactor that breaks the benchmark fails here first.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pandas as pd

from rtfproc_spark.functions import rtf as rtf_fn
from rtfproc_spark.functions.rtf import make_extract_fn
from rtfproc_spark.kernel import ReplacementSet, RTFEngine
from rtfproc_spark.sources.transcripts import DEFAULT_REPLACEMENTS, make_rtf_doc
from rtfproc_spark.streaming.sink import IdempotentSink

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def _perfbench_imports() -> set[tuple[str, str | None]]:
    """(module, name) for every ``rtfproc_spark`` import in perfbench/*.py;
    name is None for a plain ``import rtfproc_spark...``."""
    found = set()
    for py in sorted(PERFBENCH.glob("*.py")):
        for node in ast.walk(ast.parse(py.read_text(), str(py))):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "rtfproc_spark"
            ):
                found |= {(node.module, a.name) for a in node.names}
            elif isinstance(node, ast.Import):
                found |= {
                    (a.name, None) for a in node.names if a.name.startswith("rtfproc_spark")
                }
    return found


def test_perfbench_imports_resolve():
    imports = _perfbench_imports()
    assert imports, "no rtfproc_spark imports found under perfbench/"
    missing = []
    for module, name in sorted(imports, key=str):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:  # ``from pkg import submodule``
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{module}.{name}")
    assert not missing, missing


def test_idempotent_sink_from_path(tmp_path):
    sink = IdempotentSink(str(tmp_path / "sink"))
    assert sink.path == str(tmp_path / "sink")
    assert sink.metrics == []
    assert callable(sink.writer())


def test_engine_swap_counts_only_rtf_rows(monkeypatch):
    class CountingEngine(RTFEngine):
        runs = 0

        def run(self, data):
            CountingEngine.runs += 1
            return super().run(data)

    monkeypatch.setattr(rtf_fn, "RTFEngine", CountingEngine)
    plain = ["hello there", "sounds good, see you at five.", "ok\r\nwhat about lunch?"]
    docs = [make_rtf_doc(1, 0), make_rtf_doc(2, 3)]
    out = make_extract_fn(DEFAULT_REPLACEMENTS)(pd.Series(plain + docs))
    assert CountingEngine.runs == 2
    assert list(out["rtf_out"][:3]) == plain
    assert out["plain_text"][2] == "okwhat about lunch?"
    assert list(out["n_text_bytes"][:3]) == [11, 29, 19]


def test_extract_fn_accepts_every_replacement_form():
    texts = pd.Series(["plain text", make_rtf_doc(3, 1), None])
    empty = [make_extract_fn(p)(texts) for p in (None, [], ReplacementSet())]
    for got in empty[1:]:
        pd.testing.assert_frame_equal(got, empty[0])
    keyed = [
        make_extract_fn(p)(texts)
        for p in (DEFAULT_REPLACEMENTS, ReplacementSet(DEFAULT_REPLACEMENTS))
    ]
    pd.testing.assert_frame_equal(keyed[1], keyed[0])
