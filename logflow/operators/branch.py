"""Branch: first-matching-predicate multiway routing (SURVEY §2 T2).

Kafka Streams' ``KafkaStreamBrancher`` (reference StreamsConfig.java:39-51)
routes each record to EXACTLY ONE branch: the first predicate that matches,
else the default branch.  In Spark this is N+1 complementary filters over
one source DataFrame — Catalyst pushes each combined predicate down to the
scan, so in batch mode every branch is an independent pruned scan (no
materialization needed).  For single-pass fan-out in streaming, see
``logflow.streaming.branch_sink`` (foreachBatch + persist).

Branch law (tested): union(branches) ≡ input, branches pairwise disjoint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def branch(df: DataFrame, *predicates: Column) -> list[DataFrame]:
    """Split ``df`` into ``len(predicates) + 1`` disjoint DataFrames.

    Branch i receives rows matching predicate i and NO earlier predicate
    (first-match-wins, like the reference brancher).  The final element is
    the default branch: rows matching no predicate.  NULL predicate results
    count as non-matching (SQL three-valued logic folded to False).
    """
    return [df if cond is None else df.filter(cond) for cond in branch_conditions(*predicates)]


def branch_conditions(*predicates: Column) -> tuple[Column | None, ...]:
    """The filter of each ``branch`` output, default branch last (None when
    there are no predicates: the default branch is then the whole input).

    Pure Column algebra, so a fixed routing can build its conditions once
    and reuse them on every frame it splits."""
    conds: list[Column | None] = []
    seen: Column | None = None
    for pred in predicates:
        pred = F.coalesce(pred, F.lit(False))
        conds.append(pred if seen is None else pred & ~seen)
        seen = pred if seen is None else seen | pred
    conds.append(None if seen is None else ~seen)
    return tuple(conds)
