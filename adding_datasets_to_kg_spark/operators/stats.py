"""Graph validation + summary metadata + degree analytics.

Reference parity (G5/G6, A5-A8 in SURVEY.md §2):
- metadata JSON            ← /root/reference/src/midas/metadata.py:5-10
  (validate_graph → {node_count, edge_count, per-category counts,
  per-predicate counts}); census shape rendered in reference README.md:278-306.
- dangling-edge check      ← validation pass [ORION, public]: edges whose
  subject/object has no node row → left_anti join.
- degree histogram         ← agent notebook cell 3 +
  /root/reference/data/goldenkg_v1_stats.csv (200-bin histogram).

Scale notes: ``graph_metadata`` is three actions, two of them grouped
counts whose keys (category arrays; predicate × source pairs) are
dictionary-cardinality, so each collects a few rows and the driver derives
totals and per-key counts from them. The degree agg is the skew hot spot
(hub nodes) → AQE + two-phase salted count.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dangling_edges(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """J9: edges referencing a missing node (left_anti on each endpoint)."""
    ids = nodes.select("id").distinct()
    missing_subj = edges.join(ids, edges.subject == ids.id, "left_anti")
    missing_obj = edges.join(ids, edges.object == ids.id, "left_anti")
    # dedup on the full edge identity (incl. source): an edge missing BOTH
    # endpoints appears in both branches and must count once, but two
    # distinct cross-source edges sharing (s, p, o) must each count
    return missing_subj.unionByName(missing_obj).dropDuplicates(
        ["subject", "predicate", "object", "primary_knowledge_source"]
    )


def node_degrees(edges: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Degree per node id. Two-phase salted count to defuse hub skew:
    partial count on (id, salt), then final sum on id."""
    endpoints = edges.select(
        F.explode(F.array(F.col("subject"), F.col("object"))).alias("id")
    )
    salted = endpoints.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    partial = salted.groupBy("id", "_salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("id").agg(F.sum("c").alias("degree"))


def degree_histogram(edges: DataFrame, n_bins: int = 200) -> DataFrame:
    """Fixed-width degree histogram (goldenkg_v1_stats.csv shape).

    The degree table feeds two actions (bounds collect + binning), so it is
    persisted across them and released once the small binned result is
    materialized — without this the full edge scan + salted aggregation ran
    twice per histogram.
    """
    from pyspark import StorageLevel

    deg = node_degrees(edges).persist(StorageLevel.MEMORY_AND_DISK)
    bounds = deg.agg(
        F.min("degree").alias("lo"), F.max("degree").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    width = max((hi - lo) / n_bins, 1e-9) if hi is not None else 1.0
    hist = (
        deg.withColumn(
            "bin",
            F.least(F.floor((F.col("degree") - F.lit(lo)) / F.lit(width)), F.lit(n_bins - 1)),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("node_count"))
        .orderBy("bin")
    )
    hist = hist.localCheckpoint(eager=True)  # small (≤ n_bins rows)
    deg.unpersist()
    return hist


def degree_summary(edges: DataFrame) -> DataFrame:
    """A8: mean + exact median degree."""
    deg = node_degrees(edges)
    return deg.agg(
        F.round(F.avg("degree"), 4).alias("mean_degree"),
        F.expr("percentile(degree, 0.5)").alias("median_degree"),
        F.max("degree").alias("max_degree"),
    )


def graph_metadata(nodes: DataFrame, edges: DataFrame) -> dict:
    """G5: the metadata dict the reference dumps to {graph_id}_metadata.json
    (metadata.py:5-10).

    Three actions: one grouped count per table plus the dangling count.
    ``category_counts`` counts array elements; a null or empty category
    array and a null element all count as ``__uncategorized__``, as they
    would under ``explode_outer``."""
    node_count, categories = 0, Counter()
    for r in nodes.groupBy("category").count().collect():
        node_count += r["count"]
        for c in r["category"] or [None]:
            categories[c] += r["count"]
    edge_count, predicates, sources = 0, Counter(), Counter()
    for r in edges.groupBy("predicate", "primary_knowledge_source").count().collect():
        edge_count += r["count"]
        predicates[r["predicate"]] += r["count"]
        sources[r["primary_knowledge_source"]] += r["count"]
    return {
        "node_count": node_count,
        "edge_count": edge_count,
        "category_counts": {(c or "__uncategorized__"): n for c, n in categories.items()},
        "predicate_counts": dict(predicates),
        "source_counts": dict(sources),
        "dangling_edge_count": dangling_edges(nodes, edges).count(),
    }
