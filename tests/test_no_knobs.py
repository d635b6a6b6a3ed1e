"""The engine takes its scale decisions from Catalyst's plan statistics,
not from user-set knobs: no ``spark.pns.*`` conf key and no ``PNS_*``
environment variable besides the deployment and testdata settings."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "polars_nexpresso_spark"
ALLOWED_ENV = {"PNS_DRIVER_MEMORY", "PNS_ORACLE_SF_DIR"}


def test_package_defines_no_conf_or_env_knobs():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            names = set(re.findall(r"spark\.pns\.[\w.]*", line))
            names |= set(re.findall(r"\bPNS_\w+", line)) - ALLOWED_ENV
            found += [f"{path.relative_to(PACKAGE)}:{n}: {name}" for name in sorted(names)]
    assert not found, "\n".join(found)


def _public_function_params():
    """``(where, parameter names)`` of every public function and method in
    the package."""
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            args = node.args
            names = {a.arg for a in args.posonlyargs + args.args + args.kwonlyargs}
            yield f"{path.relative_to(PACKAGE)}:{node.name}", names


def test_no_engine_switches_on_public_functions():
    """Engines are picked by corpus size (``similarity._assign``), not by
    an ``assign=`` switch. ``ivfpq_ann_topk`` keeps its ``assign`` only
    because the repository benchmark's corpus_prep workload
    (``perfbench/workloads.py:276``) still passes ``assign="expr"``."""
    allowed = {"functions/similarity.py:ivfpq_ann_topk"}
    found = [
        where
        for where, names in _public_function_params()
        if where.startswith("functions/") and "assign" in names and where not in allowed
    ]
    assert not found, "\n".join(found)


def test_no_cache_switches_on_public_functions():
    """Whether an operator caches an intermediate is the operator's measured
    decision (``_caching.persist_tracked``), not a ``persist_*`` option."""
    found = [
        f"{where}({name})"
        for where, names in _public_function_params()
        for name in sorted(names)
        if name.startswith("persist_")
    ]
    assert not found, "\n".join(found)


def test_no_same_result_switches_on_public_functions():
    """Options that pick between two plans with the same result are the
    engine's decision: Catalyst and AQE choose the join strategy, and the
    widest expression-aggregated embedding is a module constant."""
    found = [
        f"{where}({name})"
        for where, names in _public_function_params()
        if where.startswith("functions/")
        for name in sorted(names & {"strategy", "max_expr_dims"})
    ]
    assert not found, "\n".join(found)


def test_no_pandas_twins_of_public_functions():
    """One engine per operator: no public ``functions/`` name ends in
    ``_pandas`` beside an expression twin (``cosine_topk`` runs its NumPy
    kernel itself)."""
    found = [
        where
        for where, _ in _public_function_params()
        if where.startswith("functions/") and where.endswith("_pandas")
    ]
    assert not found, "\n".join(found)
