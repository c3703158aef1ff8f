"""The ``Engine`` facade holds only entry points something calls.

Every other operator is ``operators.<module>.<fn>(eng.table(...))`` or
``eng.query("<registered name>")``; a facade method nobody calls is a
second, unchecked spelling of one of those."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import DataFrame

ROOT = Path(__file__).resolve().parents[1]
ENGINE = ROOT / "kafka_spark_streaming_pipeline_spark" / "engine.py"


def _is_engine(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "Engine"
    )


def _calls_on(tree: ast.AST, handles: set[str]) -> set[str]:
    """Names of methods called on ``Engine(...)`` itself or on a name
    in ``handles``."""
    return {
        n.func.attr
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and (
            _is_engine(n.func.value)
            or isinstance(n.func.value, ast.Name)
            and n.func.value.id in handles
        )
    }


def _engine_calls(tree: ast.AST) -> set[str]:
    """Methods called on an Engine handle: a name bound to ``Engine(...)``
    anywhere in the module, or the constructor call itself."""
    handles = {
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and _is_engine(n.value)
        for t in n.targets
        if isinstance(t, ast.Name)
    }
    return _calls_on(tree, handles)


def _quick_start() -> ast.AST:
    readme = (ROOT / "README.md").read_text()
    block = re.search(r"## Quick start\s+```python\n(.*?)```", readme, re.S)
    assert block, "README.md has no python quick-start block"
    return ast.parse(block.group(1))


def test_every_engine_method_has_a_caller():
    """Every public ``Engine`` method is called from tests/, tools/,
    perfbench/, another ``Engine`` method, or the README quick start."""
    engine = ast.parse(ENGINE.read_text())
    cls = next(
        n for n in engine.body if isinstance(n, ast.ClassDef) and n.name == "Engine"
    )
    public = {
        f.name
        for f in cls.body
        if isinstance(f, ast.FunctionDef) and not f.name.startswith("_")
    }
    called = _calls_on(cls, {"self"}) | _engine_calls(_quick_start())
    for folder in ("tests", "tools", "perfbench"):
        for path in sorted((ROOT / folder).rglob("*.py")):
            called |= _engine_calls(ast.parse(path.read_text()))
    assert sorted(public - called) == []


# each README quick-start entry no other test calls, with the registered
# query (or the operator's registered pipeline) it fronts
QUICK_START = [
    ("near_dups", "p12_minhash_lsh"),
    ("dedup_clusters", "p14_dedup_clusters"),  # connected_components
    ("release_audit", "x164_release_audit"),
    ("audit_ann_recall", "x165_ann_recall_audit"),
    ("classifier_calibration", "x167_classifier_calibration"),
    ("tokenizer_report", "x168_tokenizer_fertility"),
    ("train_unigram_tokenizer", "x172_unigram_lm_train"),
    ("tokenizer_audit", "x176_tokenizer_audit"),
    ("conformal_prediction_sets", "x177_conformal_prediction_sets"),
]


@pytest.mark.parametrize("method,registered", QUICK_START)
def test_quick_start_entry_has_its_registered_columns(
    spark, sf_dir, method, registered
):
    from kafka_spark_streaming_pipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    out = getattr(eng, method)()
    assert isinstance(out, DataFrame)
    assert out.columns == eng.query(registered).columns
