"""Skew mitigation on the hot `source` column (BASELINE north_rule).

The synthetic table gives one source ~40% of all rows (FIXTURES.md §1).
Salting — spreading a hot key over `buckets` sub-keys by a hash of
another column — only pays where an operator cannot combine the key
locally. Aggregations can: partial aggregation collapses the hot key
map-side, so the shuffle carries one partial row per (key, task) and a
plain `groupBy` needs no help (the flagship `route_counts` is one; it
was measured slower salted than plain, with identical rows). A join
cannot: every fact row of the hot key must meet its dim row, so
`salted_join` fans that key out over `buckets` reducers.

AQE's skewJoin splits skewed join partitions at runtime; `salted_join`
is for the plans it cannot rewrite (see its docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt__"


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salt_src: str = "doc_id",
    buckets: int = 32,
) -> DataFrame:
    """Skew-proof equi-join for a dim too big to broadcast: the fact
    side salts each row (hash of `salt_src`, NOT of the join key — the
    hot key must spread), the dim side replicates each row across all
    `buckets` salts (explode of a sequence literal — one codegen
    Generate, no shuffle of its own), and the join runs on
    (on, __salt__), fanning the hot key over `buckets` reducers.

    Cost model: dim moves `buckets`× — use only when
    |dim| * buckets << |fact partition skew saved|, i.e. medium dims
    joined on keys where one value holds >> 1/parallelism of the
    facts. AQE's skew-join split handles this adaptively when it can;
    this form is for when it can't: bucketed layouts it would break,
    sort-merge plans feeding a downstream co-partitioned op, or
    deterministic plan shape for regression-tested jobs."""
    dup = [c for c in dim.columns if c in fact.columns and c != on]
    if dup:
        raise ValueError(f"salted_join: overlapping column names: {dup}")
    if SALT_COL in fact.columns or SALT_COL in dim.columns:
        raise ValueError(
            f"salted_join: an input already carries {SALT_COL!r} — "
            "drop or rename it first (it would be silently clobbered)"
        )
    f = fact.withColumn(SALT_COL, F.pmod(F.xxhash64(F.col(salt_src)), F.lit(buckets)))
    d = dim.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)).cast("array<long>"))
    )
    return f.join(d, on=[on, SALT_COL]).drop(SALT_COL)
