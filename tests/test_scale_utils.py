"""Scale utilities: salted skew join correctness, bucketed co-located
joins (exchange-free), and explain-plan assertions that the headline
plans keep their pushdown/broadcast shape."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_join_matches_plain_join(spark):
    from cassandra_sstable_to_protocolbuf_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_totalprice").withColumnRenamed("o_orderkey", "l_orderkey")
    plain = li.join(orders, "l_orderkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s")).collect()[0]
    salted = salted_join(li, orders, "l_orderkey", salt_factor=8).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s")).collect()[0]
    assert plain.n == salted.n and plain.s == salted.s


def test_salted_join_rejects_right_and_full_outer(spark):
    """Unmatched replicated-side rows would surface once per salt
    replica, so the operator refuses those join types outright."""
    import pytest

    from cassandra_sstable_to_protocolbuf_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select("l_orderkey")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"))
    for how in ("right", "full", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(li, orders, "l_orderkey", how=how)


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the shuffle --
    the co-location strategy for repeated big-big joins at scale."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_totalprice")
    # spark.sql.warehouse.dir is static config -- tables land in the
    # default ./spark-warehouse (gitignored); drop them when done, and
    # clear leftover dirs the in-memory catalog no longer knows about
    import shutil

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("li_b", "orders_b"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
     .mode("overwrite").saveAsTable("li_b"))
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
     .mode("overwrite").saveAsTable("orders_b"))
    # force the big-big join strategy (at real scale neither side
    # broadcasts; locally the tables are tiny so broadcast would win)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"))
        plan = _explain(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        n = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert n == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")


@pytest.mark.parametrize("name,must_contain,must_not_contain", [
    ("tpch_q3_top_orders", ["BroadcastHashJoin", "PushedFilters: [IsNotNull(l_shipdate)"], []),
    ("tpch_q6_revenue", ["PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)"], ["SortMergeJoin"]),
    ("tpch_q5_supplier_volume", ["BroadcastHashJoin"], []),
])
def test_headline_plan_shapes(spark, name, must_contain, must_not_contain):
    """Regression guard: the plans we tuned stay pushdown'd + broadcast."""
    from cassandra_sstable_to_protocolbuf_spark.plans.catalog import CATALOG

    plan = _explain(CATALOG[name].fn(spark, SF_SMOKE))
    for s in must_contain:
        assert s in plan, f"{name}: expected {s!r} in plan"
    for s in must_not_contain:
        assert s not in plan, f"{name}: unexpected {s!r} in plan"


def test_interval_ms_parses_watermark_strings():
    from cassandra_sstable_to_protocolbuf_spark.streaming.pipeline import (
        _interval_ms)

    assert _interval_ms("10 minutes") == 600_000
    assert _interval_ms("2 hours") == 7_200_000
    assert _interval_ms("1 second") == 1000
    assert _interval_ms("3 days") == 3 * 86_400_000


def test_scratch_dir_isolated_per_user():
    import os
    import stat

    from cassandra_sstable_to_protocolbuf_spark.session import scratch_dir

    d = scratch_dir("unit", "t0")
    parent = os.path.dirname(d)
    assert os.path.basename(parent).endswith(os.environ.get("USER", "")
                                             or os.path.basename(parent))
    mode = stat.S_IMODE(os.stat(parent).st_mode)
    assert mode == 0o700, f"scratch parent mode {oct(mode)}"
    assert scratch_dir("unit", "t0") == d  # stable across calls


def test_build_once_never_returns_a_planted_directory():
    """build_once publishes under the per-user scratch root: a directory
    another account planted at the predictable shared-/tmp path
    `{cache_name}_{digest}` is never returned, and the cache still
    builds exactly once."""
    import os
    import shutil
    import tempfile
    import uuid

    from cassandra_sstable_to_protocolbuf_spark.session import (
        build_once, scratch_dir)

    name, digest = "unit_plant", uuid.uuid4().hex
    planted = os.path.join(tempfile.gettempdir(), f"{name}_{digest}")
    os.makedirs(planted)
    open(os.path.join(planted, "planted"), "w").close()
    builds = []

    def build(d):
        builds.append(d)
        open(os.path.join(d, "built"), "w").close()

    try:
        out = build_once(name, digest, build)
        try:
            assert out != planted
            assert os.path.dirname(out) == os.path.dirname(
                scratch_dir("unit", "t0"))
            assert os.listdir(out) == ["built"]
            assert build_once(name, digest, build) == out
            assert len(builds) == 1
        finally:
            shutil.rmtree(out, ignore_errors=True)
    finally:
        shutil.rmtree(planted, ignore_errors=True)


def test_weighted_priority_sample_matches_python_model(spark):
    """The deterministic priority ranking must reproduce a pure-Python
    model exactly (same LCG, same integer DIV), including the top-k cut
    and tie-breaks -- the property the cross-engine oracle relies on."""
    from cassandra_sstable_to_protocolbuf_spark.operators.corpus import (
        HASH_A, HASH_C, HASH_M, HASH_P, weighted_priority_sample)

    rows = [(i, (i * 37) % 211 + 1) for i in range(300)]  # (key, weight)
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = [(r.doc_id, r.priority) for r in
           weighted_priority_sample(df, "w", k=50).collect()]

    def pri(key, w):
        u = (key % HASH_P * HASH_A + HASH_C) % HASH_M
        return (w * (1 << 40)) // (u + 1)

    model = sorted(((k, pri(k, w)) for k, w in rows),
                   key=lambda t: (-t[1], t[0]))[:50]
    assert got == model


def test_widen_is_a_noop_for_well_partitioned_inputs(spark):
    """widen() exists to rescue single-row-group local fixtures; at real
    scale inputs arrive with >= cores splits and widen must NOT inject a
    repartition (an accidental corpus shuffle before every narrow map
    would be a 100 TB regression)."""
    from cassandra_sstable_to_protocolbuf_spark.session import widen

    cores = spark.sparkContext.defaultParallelism
    wide_df = spark.range(0, 10_000, 1, cores + 4)
    assert widen(wide_df) is wide_df  # same object: no plan change at all

    narrow_df = spark.range(0, 10_000, 1, 1)
    widened = widen(narrow_df)
    assert widened is not narrow_df
    assert widened.rdd.getNumPartitions() >= cores


def test_chunker_plan_is_a_pure_narrow_map(spark):
    """docs_chunk_windows must compile to a scan + generate + project --
    NO aggregate, NO join, and no shuffle beyond the local-fixture widen
    (RoundRobin repartition of the one-row-group input). At 100 TB a
    chunker that shuffles or aggregates would be a scale bug."""
    from cassandra_sstable_to_protocolbuf_spark.plans.catalog import CATALOG
    from tests.conftest import SF_SMOKE

    plan = _explain(CATALOG["docs_chunk_windows"].fn(spark, SF_SMOKE))
    assert "Generate" in plan  # the sequence+posexplode
    for op in ("HashAggregate", "SortMergeJoin", "BroadcastHashJoin",
               "Window "):
        assert op not in plan, f"chunker plan grew a {op.strip()}"
    import re
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(k == "RoundRobinPartitioning" for k in exchanges), (
        f"chunker shuffles on {exchanges} -- only the widen round-robin "
        f"is allowed")


def test_widen_memo_distinguishes_plan_shapes(spark, tmp_path):
    """The widen() split-count memo must key on the plan SHAPE, not just
    the scanned files: a repartitioned frame over the same files reports
    shuffle partitions, and serving it the raw scan's probed count would
    wrongly re-shuffle it (VERDICT r10 #3)."""
    from cassandra_sstable_to_protocolbuf_spark.session import widen

    p = str(tmp_path / "t.parquet")
    spark.range(100).coalesce(1).write.parquet(p)

    raw = spark.read.parquet(p)
    assert widen(raw, 4).rdd.getNumPartitions() == 4  # probed 1 -> widened
    shaped = spark.read.parquet(p).repartition(6)
    # same files, same floor, different shape: 6 >= 4 must NOT reshuffle
    assert widen(shaped, 4).rdd.getNumPartitions() == 6
