"""Referential-integrity checks as broadcast / sort-merge anti-joins.

The reference has no true referential operator — its closest shape is
the leakage exact-match semi-join (``mcp_server.py:633-704``). The north
rule requires referential checks as first-class: fact-side keys must
exist in a dimension table, implemented as an anti-join that Catalyst
executes broadcast (small dim) or sort-merge (large dim).
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orphan_rows(
    fact: DataFrame,
    fact_keys: Union[str, Sequence[str]],
    dim: DataFrame,
    dim_keys: Union[str, Sequence[str], None] = None,
    broadcast_dim: Optional[bool] = None,
) -> DataFrame:
    """Rows of ``fact`` whose key has no match in ``dim`` (left anti).

    ``broadcast_dim=True`` forces a broadcast hash anti-join (right for
    vocab-sized dims like the tool table); ``None`` lets Catalyst/AQE
    decide (sort-merge for large dims). Null fact keys are orphans only
    if non-null — null-keyed rows are excluded (they belong to the
    non-null / required rules, not referential).
    """
    if isinstance(fact_keys, str):
        fact_keys = [fact_keys]
    if dim_keys is None:
        dim_keys = list(fact_keys)
    elif isinstance(dim_keys, str):
        dim_keys = [dim_keys]

    dim_sel = dim.select(
        *[F.col(d).alias(f) for f, d in zip(fact_keys, dim_keys)]
    ).dropDuplicates(list(fact_keys))
    if broadcast_dim:
        dim_sel = F.broadcast(dim_sel)

    non_null = fact
    for k in fact_keys:
        non_null = non_null.where(F.col(k).isNotNull())
    return non_null.join(dim_sel, on=list(fact_keys), how="left_anti")


def orphan_count(
    fact: DataFrame,
    fact_keys: Union[str, Sequence[str]],
    dim: DataFrame,
    dim_keys: Union[str, Sequence[str], None] = None,
    broadcast_dim: Optional[bool] = None,
) -> int:
    return orphan_rows(fact, fact_keys, dim, dim_keys, broadcast_dim).count()
