"""Cache-lifetime invariant: every frame a function persists is released
in a ``finally`` of that same function.

A ``persist()`` whose ``unpersist()`` sits on the success path only
stays cached when the function raises — an unbounded executor cache in
a long session.  The check is per function and per frame: each name
bound to a ``.persist()`` result must be ``.unpersist()``-ed inside a
``finally`` block of the function that persisted it (nested functions
are checked on their own).  Lazy-return caches that outlive their
function route through the bounded pool in ``functions/_cache.py``,
which is exempt.
"""

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "tap_airbyte_wrapper_spark"

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _own_nodes(node):
    """Every node under ``node``, not descending into nested scopes."""
    stack = list(ast.iter_child_nodes(node))
    while stack:
        n = stack.pop()
        if isinstance(n, _SCOPES):
            continue
        yield n
        stack.extend(ast.iter_child_nodes(n))


def _is_call(node, method):
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == method)


def _unreleased(fn):
    """Names ``fn`` persists but does not unpersist in a ``finally``;
    a ``.persist()`` not bound to a plain name is reported as ``?``."""
    nodes = list(_own_nodes(fn))
    persists = [n for n in nodes if _is_call(n, "persist")]
    bound = {n.value: n.targets[0].id for n in nodes
             if isinstance(n, ast.Assign) and _is_call(n.value, "persist")
             and len(n.targets) == 1 and isinstance(n.targets[0], ast.Name)}
    released = {c.func.value.id
                for t in nodes if isinstance(t, ast.Try)
                for stmt in t.finalbody
                for c in [stmt, *_own_nodes(stmt)]
                if _is_call(c, "unpersist")
                and isinstance(c.func.value, ast.Name)}
    return sorted({bound.get(p, "?") for p in persists} - released)


def test_no_bare_persist_without_unpersist_point():
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        if py.name == "_cache.py":
            continue  # the pool itself owns the persist
        for fn in ast.walk(ast.parse(py.read_text())):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names = _unreleased(fn)
                if names:
                    offenders.append(
                        f"{py.relative_to(PKG)}:{fn.lineno} "
                        f"{fn.name} {names}")
    assert not offenders, (
        "persisted frames not released in a finally of the persisting "
        "function — wrap the work in try/finally, or route lazy-return "
        f"caches through functions._cache.cache_bounded: {offenders}"
    )


def test_guard_flags_release_outside_finally():
    """The checker itself: a success-path-only release is flagged, a
    ``finally`` release is not, and nested functions are separate."""
    src = '''
def leaky(df):
    a = df.persist()
    a.count()
    a.unpersist()

def safe(df):
    a = df.persist()
    try:
        a.count()
    finally:
        if a is not None:
            a.unpersist()

def outer(df):
    def inner(b):
        b = b.persist()
        try:
            b.count()
        finally:
            b.unpersist()
    return inner

def chained(df):
    return df.persist()
'''
    fns = {f.name: f for f in ast.walk(ast.parse(src))
           if isinstance(f, ast.FunctionDef)}
    assert _unreleased(fns["leaky"]) == ["a"]
    assert _unreleased(fns["safe"]) == []
    assert _unreleased(fns["outer"]) == []
    assert _unreleased(fns["inner"]) == []
    assert _unreleased(fns["chained"]) == ["?"]


def test_fit_text_classifier_failure_releases_cache(spark):
    """Training on texts with no tokens raises, and the persisted
    token projection is released on the way out."""
    from tap_airbyte_wrapper_spark.functions.classifier import (
        fit_text_classifier,
    )

    df = spark.createDataFrame([("", 1), ("", 0)], "text string, y int")
    spark.catalog.clearCache()
    with pytest.raises(ValueError, match="no non-empty training"):
        fit_text_classifier(df, "y", n_iter=2)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
