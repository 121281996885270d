"""Correctness checks of the benchmark. Each returns ``None`` when the
output is right and a short description of the difference otherwise."""

from __future__ import annotations

from decimal import Decimal


def hash_mismatch(
    name: str, got: tuple[int, int], expect: tuple[int, int]
) -> str | None:
    """Compare an in-engine result hash ``(rows, sum of row hashes)``
    (``tools/hashcheck.py``) with the DuckDB oracle's."""
    if tuple(got) == tuple(expect):
        return None
    if got[0] != expect[0]:
        return f"{name}: {got[0]} rows, oracle {expect[0]}"
    return f"{name}: value hash differs from the oracle ({got[0]} rows)"


def _plain(v):
    return int(v) if isinstance(v, Decimal) else v


def rows_mismatch(sql: str, rows, expect: list[tuple]) -> str | None:
    """Compare collected rows with the model's, ignoring row order."""
    got = sorted(tuple(_plain(v) for v in r) for r in rows)
    if got == expect:
        return None
    extra = [r for r in got if r not in expect][:3]
    missing = [r for r in expect if r not in got][:3]
    return (
        f"{sql[:70]}: {len(got)} rows vs {len(expect)} expected; "
        f"unexpected {extra}, missing {missing}"
    )


def catalog_mismatch(state: dict, model: dict) -> str | None:
    """Compare the reconcile catalog's tables with the model's."""
    diff = sorted(k for k in model if state.get(k) != model[k])
    if not diff:
        return None
    return "catalog tables differ from the model: " + ", ".join(
        f"{k} {state.get(k)} != {model[k]}" for k in diff
    )[:300]
