"""Filter algebra: OR-of-ANDs of ``(column, op, value)`` triples.

Parity with the reference's filter surface (``filter_row_groups`` /
``filter_val`` / ``filter_in`` / ``filter_not_in``,
fastparquet/api.py:1330-1518; ops map fastparquet/util.py:528-536), re-expressed
as a translator to a single pyspark ``Column`` predicate.  In the reference
these filters drive row-group *skipping* against min/max stats; on Spark the
same triples become a Catalyst predicate — pushdown, partition pruning and
row-group skipping then happen inside the scan for free.  The identical
algebra also prunes whole parts of a blockstore before decode, against each
block's min/max stats and Bloom filter: the driver evaluates it with
pyarrow/numpy over the payload-free block columns, read from the block
files' own metadata column chunks (``operators.pipeline.prune_blocks``,
which ``decode_blocks`` plans through).

Accepted shapes (same as the reference):
    [(c, op, v), ...]                 -> AND of all triples
    [[(c, op, v), ...], [...], ...]   -> OR of AND-groups
Ops: ``== = != < <= > >= in  not in``.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_SIMPLE_OPS = {
    "==": lambda c, v: c == v,
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


def triple_to_column(col: str, op: str, val) -> Column:
    # backticks: exact-name resolution — flattened struct paths ('a.b')
    # and escaped literal dots must not parse as field access
    c = F.col("`" + col.replace("`", "``") + "`")
    if op in _SIMPLE_OPS:
        return _SIMPLE_OPS[op](c, val)
    if op == "in":
        return c.isin(list(val))
    if op == "not in":
        return ~c.isin(list(val))
    raise ValueError(f"op {op!r} not understood (expected one of "
                     f"{sorted(_SIMPLE_OPS)} + ['in', 'not in'])")


def filters_to_column(filters) -> Column:
    """OR-of-ANDs (or a single AND list) -> one boolean Column."""
    if not filters:
        return F.lit(True)
    if isinstance(filters[0], tuple):
        filters = [filters]
    disjunction = None
    for group in filters:
        conjunction = None
        for col, op, val in group:
            t = triple_to_column(col, op, val)
            conjunction = t if conjunction is None else (conjunction & t)
        if conjunction is None:
            conjunction = F.lit(True)
        disjunction = conjunction if disjunction is None else (disjunction | conjunction)
    return disjunction


def apply_filters(df: DataFrame, filters) -> DataFrame:
    """``to_pandas(filters=...)`` analogue: declarative predicate; Catalyst
    pushes it into the scan (PushedFilters) — verify with .explain()."""
    return df.where(filters_to_column(filters))
