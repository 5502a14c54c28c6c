"""SQL-text expression combinators.

Why this module exists: building a large Catalyst expression through the
PySpark Column API costs one Py4J round-trip per operator (measured here
at ~3-4 ms each), so the scoring kernel / blocking rules / second-pass
algebra — thousands of operator nodes — cost seconds of driver time per
run just to CONSTRUCT. Building the same expression as a SQL string and
parsing it once with ``F.expr`` is ~1000x cheaper (one round-trip, JVM
parser) and yields the identical analyzed tree.

Semantics note: everything here is text manipulation; all values, casts,
and evaluation order are whatever the emitted SQL says. Emit literals
with :func:`d` (repr round-trips doubles exactly, so a Python-computed
constant parses back to the identical double the Column API's ``F.lit``
would have shipped).
"""

from __future__ import annotations

import functools

_GENSYM = 0
_SCOPE_DEPTH = 0


def gensym(prefix: str = "v") -> str:
    """Fresh lambda-variable name — nested HOF lambdas must not shadow."""
    global _GENSYM
    _GENSYM += 1
    return f"__{prefix}{_GENSYM}"


def scoped(fn):
    """Reset the gensym counter at each TOP-LEVEL expression build.

    Decorating every public expression builder makes the emitted SQL text
    a pure function of the builder's inputs — identical across calls and
    across processes — so text-keyed plan caching/diffing works. Depth
    tracking keeps the counter monotone through nested builder calls
    (a reset mid-build would let an inner lambda shadow an outer one);
    only the outermost decorated call resets. Not supported (and not done
    anywhere in this package): nesting the output of one top-level build
    inside a lambda emitted by a different top-level build.
    """

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        global _GENSYM, _SCOPE_DEPTH
        if _SCOPE_DEPTH == 0:
            _GENSYM = 0
        _SCOPE_DEPTH += 1
        try:
            return fn(*args, **kwargs)
        finally:
            _SCOPE_DEPTH -= 1

    return wrapper


def d(value: float) -> str:
    """Double literal with exact round-trip (``0.5`` -> ``0.5D``)."""
    return f"{value!r}D"


def q(s: str) -> str:
    """SQL string literal. Spark's parser processes backslash escapes in
    single-quoted literals, so a Java-regex pattern must have every
    backslash doubled to survive parsing verbatim."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """Quoted column name: any name, including one with dots or spaces."""
    return "`" + name.replace("`", "``") + "`"


def let(value: str, body) -> str:
    """Bind ``value`` once, use it many times inside ``body``.

    Spark has no let-expression; substituting an expression N times
    duplicates its tree N times. A single-element transform gives a real
    lambda binding, so the bound expression is evaluated once per row
    however many times the body references it.
    """
    v = gensym("let")
    return f"try_element_at(transform(array({value}), {v} -> {body(v)}), 1)"


def pin(value: str, seed: int) -> str:
    """Identity wrapper that stops Catalyst re-evaluating ``value`` once
    per consumer.

    ``let`` binds within ONE expression; across expressions, CollapseProject
    and PushDownPredicate inline a column's defining expression into every
    consumer — including into HOF lambdas, where it then re-evaluates per
    element. Embedding a seeded ``rand`` (value-neutral: the index is
    always 1, ``0.0 * rand`` is exactly 0.0) flags the expression
    nondeterministic, which those rules refuse to touch, so the column
    materialises once per row and consumers reference it. Works for any
    column type, including maps and arrays. Use only on expensive
    multi-consumer columns: it also blocks filter pushdown through the
    projection.
    """
    return (
        f"try_element_at(array({value}), "
        f"cast(1.0D + 0.0D * rand({seed}) as int))"
    )


def cascade(levels: list[tuple[str | None, str]]) -> str:
    """First-match-wins CASE: ``[(cond, val), ..., (None, else_val)]``."""
    parts = ["CASE"]
    for cond, val in levels[:-1]:
        parts.append(f"WHEN {cond} THEN {val}")
    parts.append(f"ELSE {levels[-1][1]} END")
    return " ".join(parts)
