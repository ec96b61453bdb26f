"""goprowl_spark — a from-scratch PySpark-native rebuild of the capabilities of
jonesrussell/goprowl (BFS crawl frontier, URL dedup, politeness, page parsing,
indexing, ranked full-text search), designed for multi-executor clusters at
10^10-URL-frontier scale.

Architecture (see SURVEY.md §7): every crawl round is one declarative
DataFrame job over snapshot-versioned tables; URL-seen dedup is a partitioned
Bloom filter ahead of an exact anti-join; politeness is a per-host window
top-k over host-salted partitions; search queries compile to Catalyst Column
expressions. No RDDs, no per-row Python UDFs — pandas/Arrow UDFs only where
built-ins cannot express the op (HTML parsing, URL canonicalization, Bloom
probe).
"""

from goprowl_spark import _zipimport  # noqa: F401  (see its docstring)

__version__ = "0.1.0"
