"""The query catalog, one module per family.

Each family module holds its row builders — ``q_<name>(spark, sf_dir)
→ DataFrame`` — with their private helpers, and next to each builder
its DuckDB oracle: SQL computing the identical relation (same column
names, same types, same rounding), which the correctness driver
hash-compares with the builder's result at sf0.01.  Each module exports
one ``QUERIES`` dict ``{name: builder}`` and one ``ORACLES`` dict
``{name: oracle SQL}``; ``recommendation_translation_spark.queries``
merges them into the registry.

Cross-engine conventions (learned the hard way; keep them):

- integer outputs are ``long`` in Spark / ``CAST(... AS BIGINT)`` in
  DuckDB (DuckDB ``sum(int)`` is HUGEINT, ``len(list)`` is BIGINT,
  Spark ``size`` is INT — normalize everything);
- double aggregates are ``round``-ed identically on both sides, with
  the decimal count chosen so cross-engine summation-order noise
  (≲1e-10 relative) cannot straddle a rounding boundary;
- values that feed an ORDER BY are rounded *before* ranking so tie
  order can't diverge between engines; every ranking has an explicit
  id tie-break;
- timestamps are exported as epoch seconds (BIGINT), never as raw
  timestamps, to dodge rendering/precision differences;
- DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
  replace-all semantics.
"""
