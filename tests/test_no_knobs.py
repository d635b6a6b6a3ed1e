"""The engine takes its scale decisions from Catalyst's plan statistics,
not from user-set knobs: no ``spark.pns.*`` conf key and no ``PNS_*``
environment variable besides the deployment and testdata settings."""

from __future__ import annotations

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
