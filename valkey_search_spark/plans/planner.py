"""Hybrid-KNN query planner: pre-filter exact vs inline-filtered ANN.

Mirror of /root/reference/src/query/planner.cc:21-46: FLAT indexes always
pre-filter (the scan covers all vectors either way, so shrinking the space
first strictly wins); HNSW chooses pre-filtering only when the filter is
SELECTIVE — estimated matches <= ratio * N (default ratio 0.001,
src/valkey_search_options.cc:357 prefiltering-threshold-ratio) — because
walking the graph with an inline filter beats scoring a large filtered set
exactly.

The reference estimates the filtered-space size from O(1) per-index
cardinality metadata. The Spark-native analogue here is an O(1)-bounded
probe: count the predicate over the first ``sample_rows`` rows (a
CollectLimit reads only the partitions it needs, independent of table
size). Biased by data layout like any prefix sample — good enough for a
binary planner decision with a 1000x threshold gap, and it never scales
with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DEFAULT_PREFILTER_RATIO = 0.001   # valkey_search_options.cc:357
DEFAULT_SAMPLE_ROWS = 50_000


def estimate_match_fraction(df: DataFrame, pred: str,
                            sample_rows: int = DEFAULT_SAMPLE_ROWS) -> float:
    """Fraction of documents matching the SQL predicate ``pred``, from a
    bounded prefix probe (two CollectLimit-sized jobs, O(1) in table
    size)."""
    probe = df.limit(sample_rows)
    n = probe.count()
    if n == 0:
        return 0.0
    m = probe.filter(pred).count()
    return m / n


def use_prefiltering(match_fraction: float, algo: str,
                     threshold_ratio: float = DEFAULT_PREFILTER_RATIO) -> bool:
    """planner.cc UsePreFiltering with fractions instead of absolute
    counts (estimated_num_of_keys <= ratio * N  <=>  fraction <= ratio)."""
    if algo != "hnsw":
        return True
    return match_fraction <= threshold_ratio
