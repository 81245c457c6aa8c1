"""Distributed ML primitives that stay HASH-GATEABLE: like the graph
module, every recurrence runs in fixed-point BIGINT arithmetic so both
engines produce bit-identical results -- float k-means can only ever be
rows-only because centroid means sum in engine-dependent order.

Scale shape per Lloyd iteration: one broadcast-centroid assignment pass
(map-side argmin, no N x K shuffle -- the codebook is bounded) and one
(cluster, dim) hash aggregation for the update. The quadratic N x K
distance work is the irreducible k-means cost; at 100 TB the codebook
stays fixed-size while N partitions freely."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

SCALE = 1_000_000  # fixed-point: coord = round(x * 1e6) as BIGINT


def dist_sq_udf():
    """Arrow-batched exact integer squared L2 distance. INT64 all the
    way, so unlike the float cosine UDF there is no summation-order
    subtlety at all -- any evaluation order gives the same integer
    (coords <= 1.2e6, 64 dims => max 9.2e13, no overflow). ~10x the
    interpreted zip_with fold on the N x K assignment pass."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def d2(va: pd.Series, vb: pd.Series) -> pd.Series:
        a = np.stack(va.to_numpy()).astype(np.int64)
        b = np.stack(vb.to_numpy()).astype(np.int64)
        diff = a - b
        return pd.Series((diff * diff).sum(axis=1))

    return d2


def quantize_vectors(emb: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    return emb.select(
        F.col(id_col).alias("nid"),
        F.transform(vec_col,
                    lambda x: F.round(x.cast("double") * SCALE)
                    .cast("long")).alias("q"))


def kmeans_fixedpoint(emb: DataFrame, n_iter: int = 2,
                      centroid_mod: int = 40, centroid_rem: int = 7,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Lloyd's k-means on fixed-point vectors: deterministic seeding (the
    id-residue corpus subset, same convention as IVF/SemDeDup), argmin
    assignment with lower-centroid-id ties, and integer-DIV centroid
    means -- every step bit-identical across engines, so the final
    assignment (vec_id, cluster_id, dist_sq) hash-gates against an
    unrolled-CTE DuckDB oracle. Clusters that lose all members vanish in
    the update on both engines alike."""
    from cassandra_sstable_to_protocolbuf_spark.session import widen

    # the fixture parquet is one row group -> widen or every N x K
    # assignment batch runs on a single core
    v = quantize_vectors(widen(emb), id_col, vec_col)
    cent = (v.filter(F.col("nid") % centroid_mod == centroid_rem)
            .select(F.col("nid").alias("cid"), F.col("q").alias("cq")))
    d2 = dist_sq_udf()

    def assign(c: DataFrame) -> DataFrame:
        scored = (v.crossJoin(broadcast(c))
                  .select("nid", "q",
                          F.struct(d2(F.col("q"), F.col("cq"))
                                   .alias("d"), F.col("cid")).alias("dc")))
        return (scored.groupBy("nid")
                .agg(F.min("dc").alias("w"), F.first("q").alias("q"))
                .select("nid", "q", F.col("w.cid").alias("cid"),
                        F.col("w.d").alias("dist_sq")))

    for _ in range(n_iter):
        a = assign(cent)
        dims = a.select("cid", F.posexplode("q").alias("dim", "c"))
        cent = (dims.groupBy("cid", "dim")
                .agg(F.expr("SUM(c) DIV COUNT(*)").alias("cc"))
                .groupBy("cid")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "cc"))),
                    lambda s: s.cc).alias("cq")))
    final = assign(cent)
    return final.select(F.col("nid").alias(id_col),
                        F.col("cid").alias("cluster_id"), "dist_sq")


def kmeans_oracle_sql(n_iter: int = 2, centroid_mod: int = 40,
                      centroid_rem: int = 7,
                      table: str = "embeddings",
                      vec_expr: str = "embedding",
                      n_dims: int = 64) -> str:
    """DuckDB oracle: identical quantization, seeding, argmin tiebreak,
    and integer-mean update, unrolled one CTE block per iteration.
    vec_expr/n_dims let product quantization run the same oracle over a
    dimension SLICE (e.g. embedding[1:32])."""
    dist = ("list_sum(list_transform(list_zip({a}, {b}), "
            "p -> (p[1]-p[2])*(p[1]-p[2])))")

    def assign_cte(tag: str, cent: str) -> str:
        return f"""
{tag} AS (
  SELECT nid, q, cid, d AS dist_sq FROM (
    SELECT v.nid, v.q, c.cid,
           {dist.format(a='v.q', b='c.cq')} AS d,
           ROW_NUMBER() OVER (PARTITION BY v.nid
                              ORDER BY {dist.format(a='v.q', b='c.cq')},
                                       c.cid) AS rn
    FROM v CROSS JOIN {cent} c) t WHERE rn = 1)"""

    parts = [f"""
WITH v AS (
  SELECT vec_id AS nid,
         list_transform({vec_expr},
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * {SCALE})
                                  AS BIGINT)) AS q
  FROM {table}),
c0 AS (SELECT nid AS cid, q AS cq FROM v
       WHERE nid % {centroid_mod} = {centroid_rem})"""]
    for i in range(1, n_iter + 1):
        parts.append("," + assign_cte(f"a{i}", f"c{i-1}"))
        parts.append(f""",
e{i} AS (
  SELECT a.cid, d.dim, a.q[d.dim] AS c
  FROM a{i} a CROSS JOIN (SELECT unnest(range(1, {n_dims + 1})) AS dim) d),
c{i} AS (
  SELECT cid, list(cc ORDER BY dim) AS cq FROM (
    SELECT cid, dim, CAST(SUM(c) // COUNT(*) AS BIGINT) AS cc
    FROM e{i} GROUP BY 1, 2) GROUP BY cid)""")
    parts.append("," + assign_cte("fin", f"c{n_iter}"))
    # list_sum yields HUGEINT (pandas float) -- cast back to the BIGINT
    # the Spark side emits
    parts.append("""
SELECT nid AS vec_id, cid AS cluster_id, CAST(dist_sq AS BIGINT) AS dist_sq
FROM fin""")
    return "".join(parts)


def pq_codes(emb: DataFrame, n_iter: int = 1,
             centroid_mod: int = 40, centroid_rem: int = 7,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Product quantization, the vector-index compression standard: the
    64-dim space splits into two 32-dim subspaces, each clustered by
    the SAME fixed-point k-means (so the codebooks and code assignment
    are hash-gateable), and every vector compresses to a pair of
    (sub-codebook id) codes -- 8 bytes for what was 256. The exact
    integer reconstruction error per vector is the sum of the two
    subspace distances; two independent k-means runs compose with one
    vec_id equi-join. At 100 TB this is the memory model that makes a
    billion-vector index fit: codes in RAM, codebooks broadcast."""
    def sub(lo: int) -> DataFrame:
        sliced = emb.select(F.col(id_col),
                            F.slice(vec_col, lo, 32).alias(vec_col))
        return kmeans_fixedpoint(sliced, n_iter=n_iter,
                                 centroid_mod=centroid_mod,
                                 centroid_rem=centroid_rem,
                                 id_col=id_col, vec_col=vec_col)

    s0 = sub(1).select(F.col(id_col),
                       F.col("cluster_id").alias("code_0"),
                       F.col("dist_sq").alias("_d0"))
    s1 = sub(33).select(F.col(id_col),
                        F.col("cluster_id").alias("code_1"),
                        F.col("dist_sq").alias("_d1"))
    return (s0.join(s1, id_col)
            .select(id_col, "code_0", "code_1",
                    (F.col("_d0") + F.col("_d1")).alias("recon_dist_sq")))


def pq_oracle_sql(n_iter: int = 1, centroid_mod: int = 40,
                  centroid_rem: int = 7, table: str = "embeddings") -> str:
    k0 = kmeans_oracle_sql(n_iter, centroid_mod, centroid_rem, table,
                           vec_expr="embedding[1:32]", n_dims=32)
    k1 = kmeans_oracle_sql(n_iter, centroid_mod, centroid_rem, table,
                           vec_expr="embedding[33:64]", n_dims=32)
    return f"""
SELECT k0.vec_id,
       k0.cluster_id AS code_0,
       k1.cluster_id AS code_1,
       k0.dist_sq + k1.dist_sq AS recon_dist_sq
FROM ({k0}) k0 JOIN ({k1}) k1 USING (vec_id)
"""
