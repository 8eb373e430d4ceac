"""Pure-Python invariants of the driver contract — cheap to run, and
exactly the mistakes a fast-growing registry makes: an oracle keyed to
a missing query, a frozen bench core naming a renamed query, an oracle
that is not a plain SELECT, a query that is not a (spark, sf_dir)
callable."""

from __future__ import annotations

import re

import bench
from movie_data_etl_pipeline_spark.plans.fixture_queries import ORACLES, QUERIES


def test_every_oracle_has_a_query():
    missing = [k for k in ORACLES if k not in QUERIES]
    assert not missing, f"oracles without queries: {missing}"


def test_core_r2_is_a_frozen_subset():
    assert len(bench.CORE_R2) == 69
    missing = [k for k in bench.CORE_R2 if k not in QUERIES]
    assert not missing, f"core entries missing from the registry: {missing}"


def test_core_py_is_a_frozen_subset():
    # the python-boundary drift gauge (frozen from round 10): the seven
    # Arrow/Python-boundary queries per the PLANS.md digests
    assert len(bench.CORE_PY) == 7
    assert len(set(bench.CORE_PY)) == 7
    missing = [k for k in bench.CORE_PY if k not in QUERIES]
    assert not missing, f"core_py entries missing from the registry: {missing}"


def test_core_r3_is_a_frozen_subset():
    assert len(bench.CORE_R3) == 211
    assert len(set(bench.CORE_R3)) == 211
    missing = [k for k in bench.CORE_R3 if k not in QUERIES]
    assert not missing, f"core entries missing from the registry: {missing}"
    # CORE_R2 ⊂ CORE_R3: the round-3 headline contained the round-2 one
    assert set(bench.CORE_R2) <= set(bench.CORE_R3)


def test_driver_window_is_full():
    # the correctness driver reads the first 50 insertion-ordered
    # entries; a registry below 50 would silently shrink the window
    assert len(QUERIES) >= 50
    window = list(QUERIES)[:50]
    no_oracle = [k for k in window if k not in ORACLES]
    # rows-only entries are allowed but should be rare in the window
    assert len(no_oracle) <= 5, f"window heavy on rows-only checks: {no_oracle}"


def test_oracles_are_select_only():
    banned = re.compile(
        r"\b(INSERT|UPDATE|DELETE|CREATE|DROP|ATTACH|COPY|PRAGMA|INSTALL|LOAD)\b",
        re.IGNORECASE,
    )
    offenders = {}
    for name, sql in ORACLES.items():
        # string literals (e.g. a CASE arm labelled 'insert') are data,
        # not constructs — strip them before scanning
        m = banned.search(re.sub(r"'[^']*'", "''", sql))
        if m:
            offenders[name] = m.group(0)
    assert not offenders, f"non-SELECT constructs in oracles: {offenders}"


def test_queries_callable_with_two_args():
    import inspect

    bad = []
    for name, fn in QUERIES.items():
        params = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.default is inspect.Parameter.empty
            and p.kind
            in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        if len(params) != 2:
            bad.append(name)
    assert not bad, f"queries not (spark, sf_dir) callables: {bad}"
