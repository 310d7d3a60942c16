"""The operator catalog: each entry implements one operator family from
SURVEY.md §2 (or a training-data-pipeline extra) over the driver's testdata
tables, with an exactly-mirrored DuckDB oracle SQL.

Conventions that make the driver's order-insensitive value-hash compare work:
* every computed column is aliased identically on both sides;
* floating scores are rounded to 4 decimals on both sides AND ordering ties
  are broken by ids, so top-k sets match even across libm ulp differences;
* positions are 1-based on both sides (DuckDB generate_subscripts is
  1-based; Spark posexplode pos+1).

The *plain analyzer* used here (lowercase, split on [^a-z0-9]+) exists so the
whole pipeline is expressible in ANSI SQL for the oracle; the engine's real
analyzer (reference-parity parser + stemmer) is exercised by the pages-based
entries (rows-only checks) and the pytest rank-identity suite.
"""
