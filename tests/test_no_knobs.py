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


def test_no_engine_switches_on_public_functions():
    """Engines are picked by corpus size (``similarity._assign``), not by
    an ``assign=`` switch. ``ivfpq_ann_topk`` keeps its ``assign`` only
    because the repository benchmark's corpus_prep workload
    (``perfbench/workloads.py:276``) still passes ``assign="expr"``."""
    allowed = {"similarity.py:ivfpq_ann_topk"}
    found = []
    for path in sorted((PACKAGE / "functions").glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            args = node.args
            names = {a.arg for a in args.posonlyargs + args.args + args.kwonlyargs}
            where = f"{path.name}:{node.name}"
            if "assign" in names and where not in allowed:
                found.append(where)
    assert not found, "\n".join(found)
