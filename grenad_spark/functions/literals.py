"""Driver-built literals as ONE SQL string parsed by ONE F.expr call.

The per-element Column API (F.lit / F.create_map / F.array / F.struct /
Column.isin(list)) pays one py4j round trip per element — thousands per
64-query batch plan. Catalyst folds the parsed expression to the same
literals, so optimized plans do not change. Serving (query/) and the
derived tables (index/prefix.py, index/pairprox.py) build every
driver literal through this module.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from grenad_spark.operators.seek import advance_str


def sql_lit(v) -> str:
    """Spark SQL text of a driver value: str, int, float, list (→ array),
    tuple (→ struct, fields col1..colN; name them with sql_expr's type)
    or dict (→ map).

    Strings are user input. Alphanumeric ones are quoted as they are;
    anything else becomes CAST(X'<utf-8 hex>' AS STRING), which no quote
    or backslash can break out of, which does not depend on
    spark.sql.parser.escapedStringLiterals, and which ${...} variable
    substitution cannot match."""
    if isinstance(v, str):
        hexed = v.encode("utf-8", "surrogateescape").hex()
        return f"'{v}'" if v.isalnum() else f"CAST(X'{hexed}' AS STRING)"
    if isinstance(v, float):
        return f"{v!r}D"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, list):
        return f"array({', '.join(map(sql_lit, v))})"
    if isinstance(v, tuple):
        return f"struct({', '.join(map(sql_lit, v))})"
    if isinstance(v, dict):
        return f"map({', '.join(f'{sql_lit(k)}, {sql_lit(x)}' for k, x in v.items())})"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def sql_expr(v, type_: str | None = None) -> Column:
    """sql_lit(v) as a Column, cast to the Spark SQL type `type_` when
    given (e.g. 'map<int, bigint>', or struct field names)."""
    text = sql_lit(v)
    return F.expr(f"CAST({text} AS {type_})" if type_ else text)


def isin(col: str, values) -> Column:
    """`col IN (values)` as one F.expr call. An empty list matches
    nothing, like Column.isin([])."""
    values = list(values)
    if not values:
        return F.expr("false")
    return F.expr(f"{col} IN ({', '.join(map(sql_lit, values))})")


def prefix_ranges(prefixes) -> Column:
    """term ∈ ⋃ [p, successor(p)) over `prefixes` — the PrefixIter key
    ranges, pushed to the parquet scan — as one F.expr call."""
    conds = []
    for p in sorted(set(prefixes)):
        succ = advance_str(p)
        lo = f"term >= {sql_lit(p)}"
        conds.append(f"({lo} AND term < {sql_lit(succ)})" if succ else f"({lo})")
    return F.expr(" OR ".join(conds))
