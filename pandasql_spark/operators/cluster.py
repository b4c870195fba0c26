"""Connected components over near-duplicate pair lists.

Dedup pipelines emit PAIRS (operators/dedup.py); to actually drop
duplicates you need CLUSTERS — "keep the minimum doc id per connected
component" is the standard policy. This is the min-label-propagation
algorithm (the core of MapReduce connected-components methods à la
Hash-to-Min / large-star): every node repeatedly adopts the smallest
label among itself and its neighbors until fixpoint.

Scale notes:
- each iteration is one shuffled join + one groupBy-min — both plain
  Catalyst ops that AQE can size; rounds needed = graph diameter in the
  label graph, which for dedup clusters (small, dense clumps) is tiny
  (2-4). ``max_iter`` bounds pathological chains; non-convergence
  raises instead of silently returning wrong cluster ids.
- per-round ``localCheckpoint`` TRUNCATES LINEAGE. persist() alone is
  not enough for iterative plans: it caches data but the logical plan
  still doubles every round and planning/plan-string work eventually
  OOMs the driver (measured: a 20-round chain blew the heap before this
  fix). localCheckpoint materializes the round eagerly and makes it a
  leaf.
- the driver-side loop only checks a scalar convergence count per
  round — no row data ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import attach_cleanup, barrier


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, cluster_id) for every node in ``pairs``; cluster_id = the
    minimum node id reachable through the pair graph (undirected).

    Each superseded round's checkpoint blocks are released as soon as
    the next round is materialized (a long run otherwise accumulates
    every round in the storage pool); the edge list and the FINAL round
    stay resident — the result is lazy and lineage-truncated, so they
    are unrecoverable once dropped. ``result.cleanup()`` releases them
    after the caller materializes."""
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    sym = barrier(
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b"))),
        eager=True,
    )

    labels = barrier(
        sym.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node")),
        eager=True,
    )

    converged = False
    for _ in range(max_iter):
        # each node adopts min(own label, neighbors' labels)
        neighbor_labels = (
            sym.join(labels, sym["b"] == labels["node"])
            .select(F.col("a").alias("node"), "label")
        )
        new_labels = barrier(
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            # lineage cut — see module docstring
            eager=True,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # the changed-count was this round's last read of the OLD labels
        labels.cleanup()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # silent non-convergence would return WRONG cluster ids (a long
        # chain's min label travels one hop per round) — fail loudly,
        # releasing the barriers first (no cleanup handle escapes to
        # the caller on the raise path).
        sym.cleanup(blocking=True)
        labels.cleanup(blocking=True)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(label-graph diameter exceeds max_iter); raise max_iter"
        )
    out = labels.select("node", F.col("label").alias("cluster_id"))
    return attach_cleanup(out, sym, labels)


def dedup_keep_representative(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """End-to-end near-dup removal: drop every row whose id belongs to a
    duplicate cluster but is not the cluster's minimum id. Rows never
    mentioned in ``pairs`` are kept. One components run + one semi/anti
    join pair — no fan-out."""
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
