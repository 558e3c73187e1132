"""Spark SQL literal builders for expression strings."""

from __future__ import annotations


def str_list(values) -> str:
    """Sorted, comma-separated Spark SQL string literals for an
    ``IN (...)`` list. Backslash and quote are escaped, so caller-supplied
    names such as ``coeur d'alene`` parse as one literal."""
    return ", ".join(
        "'%s'" % v.replace("\\", "\\\\").replace("'", "\\'") for v in sorted(values)
    )
