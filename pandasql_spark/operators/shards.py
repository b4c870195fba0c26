"""Deterministic training-data shard export with a verifiable manifest.

The last mile of every training-data pipeline: the curated corpus must
leave the engine as N balanced, globally-shuffled shards that a data
loader can stream, and the export must be AUDITABLE — re-running the
pipeline (or re-reading a shard a year later) has to prove it holds
exactly the rows the manifest promised.

Three properties, each load-bearing at 100 TB:

1. **Deterministic assignment.** ``shard = hex13(md5(salt || key)) %
   n_shards`` — a pure function of the row key, independent of
   partitioning, task order, engine, or cluster size. Re-running the
   export on different hardware produces byte-identical shard
   membership. (Same engine-portable 52-bit-hex trick as the KMV
   sketch / `hash_split`; the reference engine has no export surface
   at all — beyond-reference inventory.)
2. **Global shuffle built in.** md5 destroys source/time locality, so
   every shard is an unbiased sample of the corpus — a loader reading
   shard 0 sees the same source mixture as one reading shard 37. No
   separate "shuffle the dataset" pass (which at 100 TB is a full
   extra sort) is needed; within-shard order is pinned by the same
   hash (``sortWithinPartitions``), so files are reproducible too.
3. **Order-independent checksum.** The manifest carries, per shard,
   ``bit_xor`` over each row's 60-bit content fingerprint. XOR is
   commutative/associative, so the checksum is invariant to row order
   and to how tasks interleaved — any reader can re-derive it from the
   shard file alone and compare. A dropped, duplicated, or corrupted
   row flips the checksum with probability 1 - 2^-60.

Scale shape: assignment is a map-side projection (zero shuffle); the
export itself is ONE hash-shuffle on the shard id (`repartition(n,
shard)`) — the minimum any sharded write can do; the manifest is a
tiny (≤ n_shards rows) aggregate that AQE map-side-combines. No
driver-side data movement anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .delta import content_fingerprint


def _hex13_long(col: Column) -> Column:
    """First 13 hex chars of an md5 → exact 52-bit integer (long).
    Any engine computes the same number from the same string."""
    return F.conv(F.substring(col, 1, 13), 16, 10).cast("long")


def assign_shards(
    df: DataFrame,
    n_shards: int,
    key_col: str,
    shard_col: str = "shard",
    salt: str = "",
) -> DataFrame:
    """Add a deterministic shard id in ``[0, n_shards)``.

    Hash-by-key (NOT a random draw): every run, every engine, every
    partitioning assigns the same row to the same shard. ``salt``
    re-rolls the assignment wholesale. NULL keys fail the job — a NULL
    has no identity to shard by (same contract as `hash_split`).
    Pure codegen projection: zero shuffles, zero Python.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.col(key_col)
    h = _hex13_long(F.md5(F.concat(F.lit(salt), key.cast("string"))))
    shard = F.when(key.isNull(), F.raise_error(F.lit("NULL shard key"))).otherwise(
        h % n_shards
    )
    return df.withColumn(shard_col, shard.cast("int"))


def shard_manifest(
    df: DataFrame,
    content_cols: list[str],
    shard_col: str = "shard",
    bytes_col: str | None = None,
) -> DataFrame:
    """Per-shard audit row: (shard, n_rows, n_bytes, checksum).

    - ``n_bytes``: sum of ``bytes_col`` if given, else the octet length
      of the concatenated content columns (payload bytes, not file
      bytes — file size depends on compression, payload doesn't).
    - ``checksum``: ``bit_xor`` over each row's 60-bit fingerprint
      (first 15 hex chars of the shared `content_fingerprint` md5 —
      the same \\x1f/\\x00 sentinel scheme as snapshot_diff, so NULL
      layouts can't collide). Order-independent by construction.

    One scan, one tiny shuffle (≤ n_shards groups, map-side combined).
    """
    fp = F.conv(
        F.substring(content_fingerprint(content_cols), 1, 15), 16, 10
    ).cast("long")
    if bytes_col is not None:
        row_bytes = F.coalesce(F.col(bytes_col).cast("long"), F.lit(0))
    else:
        row_bytes = sum(
            (
                F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0))
                for c in content_cols[1:]
            ),
            F.coalesce(
                F.octet_length(F.col(content_cols[0]).cast("string")), F.lit(0)
            ),
        )
    return (
        df.groupBy(shard_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(row_bytes).alias("n_bytes"),
            F.bit_xor(fp).alias("checksum"),
        )
        .orderBy(shard_col)
    )


def export_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str,
    content_cols: list[str],
    salt: str = "",
) -> DataFrame:
    """Write ``df`` as ``n_shards`` parquet shard directories under
    ``path`` (``shard=K/``, partition-pruned reads) and return the
    manifest. Rows land in their assigned shard's directory in
    deterministic within-shard hash order.

    Plan: one repartition on the shard id (the minimum shuffle for a
    sharded write), ``sortWithinPartitions`` on the assignment hash
    (no extra exchange — sort rides the existing partitioning), then a
    partitioned parquet write. The manifest is computed from the SAME
    pre-write frame; a reader can recompute it per directory and
    compare checksums.
    """
    with_shard = assign_shards(df, n_shards, key_col, salt=salt)
    h = _hex13_long(
        F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    )
    (
        with_shard.repartition(n_shards, F.col("shard"))
        # "shard" leads the sort: the partitioned writer requires its
        # output sorted by the partition columns and would insert its
        # own (non-stable) sort otherwise, clobbering the hash order.
        # With shard first, the existing ordering satisfies the
        # writer's requirement and rows hit the file in hash order.
        .sortWithinPartitions(F.col("shard"), h, F.col(key_col))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    return shard_manifest(with_shard, content_cols)
