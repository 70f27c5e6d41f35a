"""Named-query registry backing ``__spark_entry__.queries()/oracle_sql()``.

Every implemented operator from SURVEY.md §2 registers here as
``(name, spark_fn, duckdb_oracle_sql)``. ``oracle=None`` marks operators
that are not faithfully expressible in DuckDB SQL (approx sketches, LSH) —
the driver then records a weaker rows-only check.

Naming contract (FIXTURES.md): every computed column is aliased identically
in the Spark plan and the oracle SQL; the driver sorts columns by name
before hashing.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""
    #: Operator-selection guidance at scale: set on queries whose exact
    #: algorithm is intentionally quadratic (or otherwise scale-bounded) and
    #: that have a sub-quadratic twin a 100 TB operator should reach for by
    #: default. Surfaced in PLANS.md.
    scale_note: str | None = None


_REGISTRY: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    scale_note: str | None = None,
):
    """Decorator: register a named query. The wrapped function receives
    ``(spark, sf_dir)`` with all fixture views already registered."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(
            name, fn, oracle, doc or (fn.__doc__ or ""), scale_note
        )
        return fn

    return deco


def _ensure_loaded() -> None:
    # Import side-effect modules that populate the registry.
    from pandas_td_spark.queries import (  # noqa: F401
        advanced,
        approx,
        coverage,
        curation,
        engineering,
        llm,
        relational,
        tdfuncs,
        text,
        windows,
    )


def _latest_driver_round() -> dict[str, tuple[int, str]]:
    """Per-query ``(round, status)`` from the newest CORRECTNESS_r*.json
    row that mentions it: status 'green' | 'red'. Queries absent from every
    artifact have no entry. 'no_oracle' rows-only rows count as green (ran,
    matched the weak check). Robust to missing/corrupt artifacts."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    latest: dict[str, tuple[int, str]] = {}
    paths = []
    for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            paths.append((int(m.group(1)), p))
    for rnd, p in sorted(paths):  # later rounds overwrite earlier
        try:
            with open(p) as f:
                data = json.load(f)
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            err = row.get("err")
            if err == "no_oracle":
                ok = bool(row.get("spark_rows") is not None)
            else:
                ok = (
                    err is None
                    and row.get("rows_match") is not False
                    and row.get("schema_match") is not False
                    and row.get("hash_match") is not False
                )
            latest[name] = (rnd, "green" if ok else "red")
    return latest


def _driver_order(
    items: dict[str, Query],
    latest: dict[str, tuple[int, str]] | None = None,
) -> list[str]:
    """Driver-facing iteration order. The driver certifies the first ~50
    entries of ``queries()`` each round, so the order is the certification
    plan: red rows first, then never-checked queries, then greens by the
    round of their latest driver row, oldest first (the window rotates
    through the whole registry). Oracle-backed queries come before
    rows-only ones, then by name."""
    if latest is None:
        latest = _latest_driver_round()

    def key(name: str):
        rnd, status = latest.get(name, (0, None))
        group = 0 if status == "red" else 1 if status is None else 2
        rows_only = items[name].oracle is None
        return (group, rnd if group == 2 else 0, rows_only, name)

    return sorted(items, key=key)


def all_queries() -> dict[str, Query]:
    _ensure_loaded()
    return {n: _REGISTRY[n] for n in _driver_order(_REGISTRY)}


def spark_queries() -> dict[str, QueryFn]:
    qs = all_queries()
    out: dict[str, QueryFn] = {}
    for name, q in qs.items():
        # bind views for the requested sf_dir before running the body
        def wrapped(spark: SparkSession, sf_dir: str, _q=q) -> DataFrame:
            from pandas_td_spark.sources.io import register_views

            register_views(spark, sf_dir)
            return _q.fn(spark, sf_dir)

        out[name] = wrapped
    return out


def oracle_sqls() -> dict[str, str]:
    return {
        n: q.oracle for n, q in all_queries().items() if q.oracle is not None
    }
