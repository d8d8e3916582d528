"""Scale-engineering tests: salted aggregation/join equivalence, bucketed
co-located joins (no shuffle), partitioned writes with partition pruning.

These pin the techniques the 100 TB deployment depends on — each verified
both for CORRECTNESS (same results as the naive plan) and for PLAN SHAPE
(the shuffle/pruning behavior that motivates them).
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from mlb_win_predictor_spark.operators.skew import salted_aggregate, salted_join
from mlb_win_predictor_spark.session import load_table

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_aggregate_matches_plain(spark):
    li = load_table(spark, SF, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.count("l_orderkey").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
        F.max("l_extendedprice").alias("mx"),
    )
    salted = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n": ("l_orderkey", "count"),
            "qty": ("l_quantity", "sum"),
            "mx": ("l_extendedprice", "max"),
        },
        n_salts=8,
        salt_source_cols=["l_orderkey", "l_linenumber"],
    )
    # salted phase-1 must aggregate on (key, salt): its first exchange
    # partitions on both columns
    p = plan_of(salted)
    assert "_salt" in p
    got = {tuple(r) for r in salted.withColumn("qty", F.col("qty").cast("decimal(18,2)")).collect()}
    want = {tuple(r) for r in plain.collect()}
    assert got == want


def test_salted_join_matches_plain(spark):
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    plain = o.join(c.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
    salted = salted_join(
        o, c.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", n_salts=4
    )
    assert salted.count() == plain.count()
    g = {tuple(r) for r in salted.select("o_orderkey", "c_mktsegment").collect()}
    w = {tuple(r) for r in plain.select("o_orderkey", "c_mktsegment").collect()}
    assert g == w


def test_salted_join_rejects_small_side_preserving_joins(spark):
    """right/full would emit unmatched small-side rows n_salts times
    (the small side is replicated per salt) — must be rejected, not
    silently wrong."""
    import pytest

    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    for how in ("right", "full", "outer", "left_anti"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(o, c, "o_custkey", n_salts=4, how=how)


def test_bucketed_join_has_no_shuffle(spark):
    """Bucketing both sides on the join key co-locates matching rows:
    the sort-merge join runs with ZERO Exchange nodes — at 100 TB this is
    the difference between a full-cluster shuffle and a local merge."""
    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        li.withColumnRenamed("l_orderkey", "o_orderkey")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_lineitem")
    )
    # disable broadcast so the join strategy is genuinely sort-merge
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        p = plan_of(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, "bucketed join should not shuffle"
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes(spark, tmp_path):
    """Date/key-partitioned layout + partition pruning: a filtered read
    touches only the matching directories (PartitionFilters, not a full
    scan) — the games table's date-partitioning story (SURVEY §4.2)."""
    o = load_table(spark, SF, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    o.write.mode("overwrite").partitionBy("order_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("order_year") == 1996)
    p = plan_of(back)
    assert "PartitionFilters" in p and "order_year" in p
    want = o.filter(F.col("order_year") == 1996).count()
    assert back.count() == want
    # pruned scan reads only the 1996 directory
    scan_line = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "1996" in scan_line


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime row-level filtering (the 100 TB selective-join technique):
    a selective build-side filter makes Catalyst inject a bloom-filter
    aggregate of the build keys and a might_contain() semi-filter into
    the probe-side scan, so most fact rows die before the shuffle. Spark
    only injects when the join shuffles (a broadcast join already
    prunes) and the probe scan clears a size threshold — lowered here
    since sf0.001 is far below the 10 GB production default."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        p = plan_of(j)
        assert "might_contain" in p, "probe side must be bloom-pruned"
        assert "bloom_filter_agg" in p, "build side must aggregate a bloom filter"
        # correctness unchanged by the injected filter
        n_bloom = {r.o_orderpriority: r.n for r in j.collect()}
        for k, v in old.items():
            spark.conf.set(k, v)
        n_plain = {r.o_orderpriority: r.n for r in j.collect()}
        assert n_bloom == n_plain
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_jaccard_prefix_index_prunes_candidates(spark):
    """The PPJoin-style prefix index must be strictly smaller than the full
    shingle postings it replaces: each doc indexes only its n-ceil(t*n)+1
    rarest shingles, so the self-join input (and with it the candidate-pair
    volume) shrinks while the exact re-check keeps the result identical to
    brute force (oracle parity covers value equality)."""
    from pyspark.sql.window import Window as W

    from mlb_win_predictor_spark.queries.text import PREFIX_N, PREFIX_T

    d = load_table(spark, SF, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    shingled = d.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("toks") - (PREFIX_N - 1), F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice("toks", i, PREFIX_N)),
            )
        ).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    exploded = shingled.select(
        "doc_id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh")
    )
    full_postings = exploded.count()
    df_tbl = exploded.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    prefix_len = F.col("n_sh") - F.ceil(F.lit(PREFIX_T) * F.col("n_sh")) + 1
    prefix = (
        exploded.join(df_tbl, "sh")
        .withColumn("rn", F.row_number().over(W.partitionBy("doc_id").orderBy("df", "sh")))
        .filter(F.col("rn") <= prefix_len)
    )
    index_postings = prefix.count()
    # t=0.5 keeps ~n/2+1 of n shingles; allow slack but pin a real reduction.
    assert index_postings < 0.65 * full_postings, (index_postings, full_postings)
    # Every doc keeps at least one indexed shingle (completeness floor).
    assert prefix.select("doc_id").distinct().count() == shingled.count()


def test_dynamic_partition_pruning_on_fact_scan(spark, tmp_path):
    """Dynamic partition pruning (the other half of the partitioned-layout
    story): when the partition column is the JOIN key and the dim side is
    selective, the fact scan receives a runtime dynamicpruning subquery —
    at 100 TB the difference between scanning one year and the table,
    decided at run time from the dim's actual keys."""
    o = load_table(spark, SF, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year_dpp")
    o.write.mode("overwrite").partitionBy("order_year").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(1996, "pick"), (1997, "skip")], "order_year int, tag string"
    ).filter(F.col("tag") == "pick")
    j = fact.join(dim, "order_year")
    p = plan_of(j)
    assert "dynamicpruning" in p.lower(), "fact scan lacks DPP subquery"
    assert j.count() == o.filter(F.col("order_year") == 1996).count()


def test_work_witness_measure_tracks_scale(spark):
    """scripts/work_witness.py's measuring function: a fixed-shape entry
    launches the same jobs at both scales while the bytes it scans grow
    with the data. (q1's shuffle does not grow: its partial aggregation
    writes one row per group per map task at either scale.)"""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "work_witness.py",
    )
    spec = importlib.util.spec_from_file_location("work_witness", path)
    ww = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ww)

    small = ww.measure(spark, "q1_pricing_summary", SF)
    big = ww.measure(spark, "q1_pricing_summary", "/root/testdata/sf0.01")
    assert small["spark.jobs"] == big["spark.jobs"] > 0
    assert big["spark.input_mb"] > small["spark.input_mb"] > 0
    assert big["spark.shuffle_write_mb"] >= small["spark.shuffle_write_mb"] > 0
