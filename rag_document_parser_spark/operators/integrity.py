"""Merkle integrity rollup: certify that two corpus materializations
are byte-identical without comparing rows — the audit face of the
north rule's lineage ledger (plans/job.py writes per-bucket checksums;
this tier folds any (id, payload) relation to ONE root digest plus
the log-depth witness tree that localizes a mismatch to a bucket).
Re-running a resumed job (plans/job.py checkpoint anti-join), failing
over to another cluster, or re-materializing from a snapshot should
reproduce the ROOT exactly; when it does not, walking the tree level
by level finds the divergent leaf in log2(n_buckets) comparisons
instead of a corpus diff. Merkle 1987 ("A Digital Signature Based on
a Conventional Encryption Function") is the construction; content-
addressed storage systems use exactly this layout. The reference has
no integrity tier (/root/reference/main.py:287-293 hashes single
files only).

Determinism under ANY partitioning: the leaf digest is ``bit_xor``
of per-row md5-60 values — commutative and associative, so task
order, partition count, and shuffle layout cannot change it (the
same reason the lineage checksum is order-free). Leaves land in
md5-derived buckets (the ``sampling.py`` 60-bit convention), empty
buckets digest a fixed sentinel so the tree SHAPE is static, and
each parent is md5(left_hex || right_hex).

Scale shape: one map-side-combined aggregate keyed on the uniform
bucket id is the only corpus-scale operation; the tree fold runs on
n_buckets rows driver-paced (log2(n_buckets) tiny aggregates —
seconds even at n_buckets = 2^20, and at 100 TB the leaf aggregate
rides the same scan as the job's own lineage write).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from rag_document_parser_spark.operators.dedup import _md5_long

__all__ = ["leaf_checksums", "merkle_tree", "merkle_root", "order_certificate"]


def leaf_checksums(df: DataFrame, id_col: str = "doc_id",
                   payload_col: str = "text",
                   n_buckets: int = 16,
                   salt: str = "mk") -> DataFrame:
    """(idx, node_hash): one order-insensitive digest per bucket.
    Rows bucket by md5(id||salt) mod n_buckets; the bucket digest is
    md5 of the bit_xor fold of md5-60(id || 0x1f || payload) — any
    row change, add, or drop flips the fold. Empty buckets digest
    md5('0') so the tree shape never depends on the data."""
    bucket = F.pmod(_md5_long(F.concat(F.col(id_col).cast("string"),
                                       F.lit(salt))), F.lit(n_buckets))
    rows = df.select(
        bucket.cast("long").alias("idx"),
        _md5_long(F.concat(F.col(id_col).cast("string"), F.lit("\x1f"),
                           F.col(payload_col).cast("string"))).alias("h"))
    agg = (rows.groupBy("idx")
           .agg(F.expr("bit_xor(h)").cast("long").alias("_x")))
    frame = (df.sparkSession.range(0, n_buckets)
             .select(F.col("id").cast("long").alias("idx")))
    return (frame.join(F.broadcast(agg), "idx", "left")
            .select("idx",
                    F.md5(F.coalesce(F.col("_x"), F.lit(0))
                          .cast("string")).alias("node_hash")))


def merkle_tree(leaves: DataFrame, n_buckets: int = 16) -> DataFrame:
    """All tree nodes ``(level, idx, node_hash)``: level L =
    log2(n_buckets) holds the leaves, level 0 the root; parent =
    md5(left_hex || right_hex) over children ordered by idx.
    ``n_buckets`` must be a power of two (static tree shape)."""
    if n_buckets & (n_buckets - 1):
        raise ValueError("n_buckets must be a power of two")
    depth = n_buckets.bit_length() - 1
    level = leaves.select(F.lit(depth).cast("long").alias("level"),
                          "idx", "node_hash")
    out = [level]
    cur = level
    for lvl in range(depth - 1, -1, -1):
        cur = (cur.groupBy((F.col("idx") / 2).cast("long").alias("idx"))
               .agg(F.md5(F.concat_ws(
                   "", F.transform(
                       F.array_sort(F.collect_list(
                           F.struct(F.col("idx").alias("i"),
                                    F.col("node_hash").alias("h")))),
                       lambda s: s["h"]))).alias("node_hash"))
               .select(F.lit(lvl).cast("long").alias("level"), "idx",
                       "node_hash"))
        out.append(cur)
    return reduce(lambda a, b: a.unionByName(b), out)


def merkle_root(df: DataFrame, id_col: str = "doc_id",
                payload_col: str = "text", n_buckets: int = 16,
                salt: str = "mk") -> DataFrame:
    """One row ``(n_buckets, root_hash)`` — the corpus digest two
    materializations must share to be certified identical."""
    tree = merkle_tree(
        leaf_checksums(df, id_col, payload_col, n_buckets, salt),
        n_buckets)
    return (tree.where(F.col("level") == 0)
            .select(F.lit(n_buckets).cast("long").alias("n_buckets"),
                    F.col("node_hash").alias("root_hash")))


def order_certificate(shuffled: DataFrame, key_col: str = "doc_id",
                      shard_col: str = "shard",
                      pos_col: str = "pos") -> DataFrame:
    """Training-ORDER certificate over a ``sampling.global_shuffle``
    output: one digest per shard that changes if any example moves,
    joins, or leaves its position — the order-sensitive companion to
    the content-only Merkle rollup (two materializations of a training
    run must deliver byte-identical ORDER, not just the same set).

    Each row contributes ``md5_60bit(key ':' pos)`` and the shard
    digest is the ``bit_xor`` fold — order-SENSITIVE through the bound
    position (a swap changes both terms), yet the aggregate itself is
    commutative and map-side combinable, so no task ever sorts and the
    certificate is reproducible on any partitioning. Output:
    ``(shard, n_rows, order_digest)``.
    """
    h = _md5_long(F.concat(F.col(key_col).cast("string"), F.lit(":"),
                           F.col(pos_col).cast("string")))
    return (shuffled.select(F.col(shard_col).alias("shard"),
                            h.alias("_h"))
            .groupBy("shard")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.bit_xor("_h").cast("long").alias("order_digest")))
