"""DataFrame-level operator helpers mirroring Presto's operator inventory.

Most Presto physical operators map 1:1 onto Spark DataFrame methods
(SURVEY.md §2) — those need no code.  This package holds the ones that
need a shim or a policy decision, exposed as composable functions:

* aggregates.py — agg builders Spark lacks (map_agg, multimap_agg,
  histogram, ordered array_agg, reduce_agg, checksum, min/max_n)
* relational.py — topN/grouped-topN/distinct-limit/unnest/sample/
  assign_unique_id wrappers with Presto semantics
"""

from presto_spark.operators import aggregates, relational  # noqa: F401
