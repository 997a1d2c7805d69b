"""Surface-form canonicalization: MinHash-LSH similarity join + connected
components (SURVEY.md §2.3 J3/J4 — the operators the reference lacks and the
north rule demands).

Pipeline: distinct surfaces → char-trigram shingle sets → MinHash-LSH
candidate pairs (verified Jaccard ≥ threshold) → label-propagation CC →
cluster representative (lexicographically smallest surface, deterministic).

Scale shape: clustering runs on DISTINCT surfaces (vocabulary-sized, not
corpus-sized — the 10^12-doc corpus has maybe 10^8 distinct surfaces), then
fans back to mentions with a broadcast-or-shuffle join on the surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neo4j_export_tool_spark.functions.similarity import char_shingles_col
from neo4j_export_tool_spark.operators.components import connected_components
from neo4j_export_tool_spark.operators.dedup import minhash_lsh_pairs_from_sets


def surface_alias_pairs(
    surfaces: DataFrame,
    surface_col: str = "surface",
    threshold_pct: int = 45,
    char_n: int = 3,
) -> DataFrame:
    """(surface_a, surface_b) alias-candidate pairs by char-shingle Jaccard."""
    # non-empty-set filter on the RAW column (char shingles are non-empty
    # for every non-null string: short surfaces shingle to themselves) —
    # a filter on the computed column would be pushed below the exchange
    # and evaluate the shingle build twice (the q13/q55 pushdown trap)
    sets = surfaces.filter(F.col(surface_col).isNotNull()).select(
        F.col(surface_col).alias("doc"),
        char_shingles_col(F.lower(F.col(surface_col)), char_n).alias("shingles"),
    )
    pairs = minhash_lsh_pairs_from_sets(sets, threshold_pct=threshold_pct)
    return pairs.select(
        F.col("doc_a").alias("surface_a"), F.col("doc_b").alias("surface_b")
    )


def canonicalize_surfaces(
    surfaces: DataFrame,
    surface_col: str = "surface",
    threshold_pct: int = 45,
    max_iterations: int = 15,
) -> DataFrame:
    """(surface, canonical_surface, cluster_size) — alias clusters.

    Surfaces with no alias partner map to themselves (cluster of 1).
    The representative is the lexicographically smallest surface in the
    cluster — deterministic and stable across runs.
    """
    distinct = surfaces.select(F.col(surface_col).alias("surface")).distinct()
    pairs = surface_alias_pairs(distinct, "surface", threshold_pct)
    # rows_per_loop_partition=None: the CC loop must not override the
    # session-wide shuffle.partitions, because this operator runs beside
    # other queries on the same session (PagesPipeline's side branch)
    cc = connected_components(
        pairs,
        src="surface_a",
        dst="surface_b",
        max_iterations=max_iterations,
        rows_per_loop_partition=None,
    )
    # component label is the min surface already (min-label propagation over
    # string ids) → representative == component
    clustered = cc.components.select(
        F.col("id").alias("surface"), F.col("component").alias("canonical_surface")
    )
    out = (
        distinct.join(clustered, "surface", "left")
        .select(
            "surface",
            F.coalesce("canonical_surface", F.col("surface")).alias(
                "canonical_surface"
            ),
        )
    )
    sizes = out.groupBy("canonical_surface").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return out.join(sizes, "canonical_surface").select(
        "surface", "canonical_surface", "cluster_size"
    )
