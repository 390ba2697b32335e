"""The query registry (contract.QUERY_TABLE) is well formed: one row per
query name, every row either has an oracle builder or says why it is
checked on rows only, and no operator module, contract.py, algebra.py or
vectors.py keeps a query, DuckDB twin or kernel that no row uses.  Needs
no Spark session."""

from __future__ import annotations

import inspect
from collections import Counter
from types import CodeType, ModuleType

import pytest

from georaster_spark.operators import algebra, relational, textops, vectors
from georaster_spark.plans import contract

SCOREBOARD = 50  # the driver's correctness gate scores the first 50 rows


def _rows_only() -> set[str]:
    return {name for name, _, oracle in contract.QUERY_TABLE if isinstance(oracle, str)}


def test_rows_are_name_query_oracle_triples():
    bad = [row[0] for row in contract.QUERY_TABLE if len(row) != 3 or not callable(row[1])]
    assert not bad, bad


def test_names_are_unique():
    counts = Counter(name for name, *_ in contract.QUERY_TABLE)
    assert not [n for n, c in counts.items() if c > 1]


def test_every_row_has_an_oracle_or_a_reason():
    bad = [
        name
        for name, _, oracle in contract.QUERY_TABLE
        if not (callable(oracle) or (isinstance(oracle, str) and oracle.strip()))
    ]
    assert not bad, bad


def test_oracle_keys_are_the_queries_minus_rows_only():
    oracles = contract.spatial_oracles("sf0.01")
    assert set(oracles) == set(contract.spatial_queries()) - _rows_only()
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_scoreboard_rows_all_have_oracles():
    scored = [name for name, *_ in contract.QUERY_TABLE[:SCOREBOARD]]
    assert len(scored) == SCOREBOARD
    assert not _rows_only() & set(scored)


def _row_oracle_functions() -> set:
    """Every module function a row's oracle builder names as `module.fn`."""
    found = set()
    for _, _, oracle in contract.QUERY_TABLE:
        if isinstance(oracle, str):
            continue
        names = oracle.__code__.co_names
        mods = [m for m in map(oracle.__globals__.get, names) if isinstance(m, ModuleType)]
        found |= {getattr(m, n) for m in mods for n in names if hasattr(m, n)}
    return found


def test_every_sql_twin_is_a_row_oracle():
    """A query removed from the table must take its `*_sql` twin with it."""
    used = _row_oracle_functions()
    orphans = [
        f"{mod.__name__}.{name}"
        for mod in (relational, textops, vectors)
        for name, fn in vars(mod).items()
        if name.endswith("_sql") and inspect.isfunction(fn)
        and fn.__module__ == mod.__name__ and fn not in used
    ]
    assert not orphans, orphans


def _code_names(fn) -> set[str]:
    """co_names of `fn` and of every code object nested in it."""
    names, stack = set(), [fn.__code__]
    while stack:
        code = stack.pop()
        names |= set(code.co_names)
        stack += [c for c in code.co_consts if isinstance(c, CodeType)]
    return names


def _module_functions(mod: ModuleType) -> dict[str, object]:
    return {
        name: fn
        for name, fn in vars(mod).items()
        if inspect.isfunction(fn) and fn.__module__ == mod.__name__
    }


KERNEL_MODULES = (algebra, vectors)  # modules that only registry rows call


def _reached_from_rows() -> set:
    """Every contract.py, algebra.py or vectors.py function some row
    reaches: by name within the caller's own module, and from any caller
    into a kernel module through `algebra.<name>` or `vectors.<name>`,
    whether the module is imported at module level (contract.py's oracle
    lambdas) or function-locally (co_names holds both the module and the
    attribute)."""
    scopes = {mod.__name__: _module_functions(mod) for mod in (contract, *KERNEL_MODULES)}
    stack = [f for _, query, oracle in contract.QUERY_TABLE for f in (query, oracle) if callable(f)]
    reached = set(stack)
    while stack:
        fn = stack.pop()
        names = _code_names(fn)
        callees = [scopes.get(fn.__module__, {})]
        for mod in KERNEL_MODULES:
            short = mod.__name__.rsplit(".", 1)[-1]
            if short in names or f"operators.{short}" in names:
                callees.append(scopes[mod.__name__])
        for scope in callees:
            for name in names & scope.keys():
                if scope[name] not in reached:
                    reached.add(scope[name])
                    stack.append(scope[name])
    return reached


def test_every_contract_query_and_twin_is_reached_from_a_row():
    """A `q_*` or `_sql_*` in contract.py that no row reaches, directly or
    through other contract functions, is dead and must go with its row."""
    reached = _reached_from_rows()
    orphans = sorted(
        name
        for name, fn in _module_functions(contract).items()
        if name.startswith(("q_", "_sql_")) and fn not in reached
    )
    assert not orphans, orphans


@pytest.mark.parametrize("mod", KERNEL_MODULES, ids=lambda m: m.__name__.rsplit(".", 1)[-1])
def test_every_algebra_function_is_reached_from_a_row(mod):
    """algebra.py and vectors.py hold kernels, helpers and twins only
    registry rows call; one no row reaches, through contract.py or another
    function of its module, is dead."""
    reached = _reached_from_rows()
    orphans = sorted(name for name, fn in _module_functions(mod).items() if fn not in reached)
    assert not orphans, orphans
