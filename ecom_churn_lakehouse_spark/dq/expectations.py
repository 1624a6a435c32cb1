"""YAML expectations loader — the reference's DQ config surface.

The reference's blocking DQ gate is driven by YAML expectation files
(``data/expectations/silver/orders.yml``: ``dataset``/``layer``/
``version`` header plus a ``checks`` list of
``{name, type, columns|column, allowed, severity}``), compiled by
``src/common/dq.py:19-39``. This repo's engine compiles the same
check types from JSON contracts (``pipelines/medallion.py``); this
module accepts the YAML format too, normalizing it onto the engine's
spec dicts so :func:`dq.checks.run_checks` and the gated
``ManagedTable.merge(df, checks=...)`` run either config unchanged.

Normalization:
- ``not_null``  → engine ``not_null`` (``columns`` list, as-is)
- ``unique``    → engine ``unique`` (``columns`` → ``keys``)
- ``in_set``    → engine ``in_set`` (``column`` + ``allowed``, as-is)
- ``range`` / ``ordering`` / ``domain`` / ``expr`` pass through
  (engine extensions; the reference file uses only the first three)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

try:  # pyyaml is present in this environment; gate anyway
    import yaml

    _HAVE_YAML = True
except ImportError:  # pragma: no cover
    _HAVE_YAML = False

__all__ = ["ExpectationSuite", "load_expectations_yaml", "parse_expectations"]


@dataclass
class ExpectationSuite:
    dataset: str
    layer: str
    version: str
    checks: list[dict[str, Any]] = field(default_factory=list)

    @property
    def critical_checks(self) -> list[dict[str, Any]]:
        return [c for c in self.checks if c.get("severity") == "critical"]


def _normalize(spec: dict[str, Any]) -> dict[str, Any]:
    out = dict(spec)
    t = out.get("type")
    if t is None:
        raise ValueError(f"expectation missing 'type': {spec!r}")
    if t == "unique":
        if "keys" not in out:
            cols = out.pop("columns", None)
            if not cols:
                raise ValueError(f"unique check needs 'columns': {spec!r}")
            out["keys"] = list(cols)
    elif t == "not_null":
        if "columns" not in out:
            col = out.pop("column", None)
            if col is None:
                raise ValueError(f"not_null check needs 'columns': {spec!r}")
            out["columns"] = [col]
    elif t in ("in_set", "domain"):
        if "column" not in out or "allowed" not in out:
            raise ValueError(f"{t} check needs 'column' and 'allowed': {spec!r}")
    elif t not in ("range", "ordering", "expr"):
        raise ValueError(f"unknown expectation type {t!r}")
    out.setdefault("severity", "critical")
    return out


def parse_expectations(doc: dict[str, Any]) -> ExpectationSuite:
    """Normalize a parsed expectations document into a suite."""
    checks = [_normalize(c) for c in doc.get("checks", [])]
    return ExpectationSuite(
        dataset=str(doc.get("dataset", "")),
        layer=str(doc.get("layer", "")),
        version=str(doc.get("version", "")),
        checks=checks,
    )


def load_expectations_yaml(path: str) -> ExpectationSuite:
    """Load a reference-format YAML expectations file."""
    if not _HAVE_YAML:  # pragma: no cover
        raise NotImplementedError("pyyaml is not installed")
    with open(path) as f:
        doc = yaml.safe_load(f)
    if not isinstance(doc, dict):
        raise ValueError(f"expectations file {path} is not a mapping")
    return parse_expectations(doc)
