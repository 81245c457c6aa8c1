"""Skew-handling join utilities for 100 TB workloads.

AQE's skew-join handles most cases by splitting oversized shuffle
partitions, but it only works for sort-merge joins and after-the-fact.
`salted_join` is the explicit tool for the pathological case AQE can't
fix: a shuffle join where a handful of keys dominate (zipfian partition
keys in the wide-row model, hot shingles in dedup). It salts the skewed
side into `salt_factor` sub-keys and explodes the other side across all
salts, turning one hot reducer into `salt_factor` even ones.

Cost model: the replicated side grows salt_factor x, so use it when
(hot-key rows / reducers) >> (other side rows * salt_factor). For
broadcast-able other sides prefer broadcast(); this is for two big
tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(skewed: DataFrame, other: DataFrame, on: str,
                salt_factor: int = 16, how: str = "inner") -> DataFrame:
    """Equi-join `skewed` with `other` on column `on`, salting the skewed
    side so hot keys spread over `salt_factor` reducers.

    The salt is deterministic (hash of all skewed-side columns modulo
    salt_factor would break row identity for duplicates; a random salt
    breaks retry determinism -- so we salt by a stable row fingerprint:
    monotonically_increasing_id is partition-stable within a job, which
    is sufficient for load spreading).
    """
    if how not in ("inner", "left", "leftouter", "left_outer", "left_semi",
                   "leftsemi", "left_anti", "leftanti", "cross"):
        # right/full outer would emit each unmatched row of the
        # replicated side once per salt replica -- duplicated output.
        # Salt the other side instead (swap the arguments).
        raise ValueError(
            f"salted_join does not support how={how!r}: unmatched rows of "
            f"the replicated side would appear salt_factor times")
    salted = skewed.withColumn(
        "_salt", (F.monotonically_increasing_id() % salt_factor).cast("int"))
    replicated = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_factor)])))
    joined = salted.join(replicated, [on, "_salt"], how)
    return joined.drop("_salt")
