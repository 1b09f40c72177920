"""Physical-plan assertions: the scale properties the engine promises must
be visible in the plans Catalyst actually produces.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df, mode="formatted"):
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = (li.where(F.col("l_quantity") > 40)
         .select("l_orderkey", "l_quantity"))
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]" in plan
    # column pruning: the scan must read ONLY the two needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A date-partitioned fact write must let a date filter prune
    partitions at the scan (PartitionFilters), not post-filter rows."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    path = str(tmp_path / "fact_by_year")
    (li.withColumn("ship_year", F.year("l_shipdate"))
       .write.partitionBy("ship_year").mode("overwrite").parquet(path))
    back = spark.read.parquet(path).where(F.col("ship_year") == 2000)
    plan = _plan(back)
    assert "PartitionFilters" in plan and "ship_year" in plan
    # only the matching partition directory is read
    years = {d for d in os.listdir(path) if d.startswith("ship_year=")}
    assert len(years) > 1  # the pruning actually had something to prune
    assert back.count() == li.where(F.year("l_shipdate") == 2000).count()


def test_star_join_broadcasts_all_dims(spark):
    """The J8 star join must broadcast every dimension — no SortMergeJoin,
    no fact-side shuffle before the final aggregation."""
    from walmart_project_etl_spark.queries.core import QUERIES
    df = QUERIES["j08_multiway_fact_join"][0](spark, SF_DIR)
    plan = _plan(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 6
    assert "SortMergeJoin" not in plan


def test_fact_keys_have_no_global_window(spark):
    """Staging FACT plans must not funnel fact rows through a global
    row_number window (the dims may — they are dimension-sized)."""
    from walmart_project_etl_spark.plans.ods import build_ods
    from walmart_project_etl_spark.plans.staging import build_stg_sales, build_staging
    from walmart_project_etl_spark.queries.pipeline import REFERENCE_CSV
    from walmart_project_etl_spark.sources.ingest import read_source_csv
    if not os.path.exists(REFERENCE_CSV):
        pytest.skip(f"{REFERENCE_CSV} absent")
    src = read_source_csv(spark, REFERENCE_CSV)
    ods = build_ods(spark, src, run_date="2025-01-01")
    stg = build_staging(ods, "B", "2025-01-01")
    # the fact's own surrogate is a hash expression: selecting just key
    # columns from the fact source (pre-join) shows no window at all
    sales = stg["stg_sales"].select("sales_key", "sale_id")
    plan = _plan(sales, "simple")
    assert "xxhash64(sale_id" in plan


def test_whole_stage_codegen_covers_rules(spark):
    """The business-rule projection must sit inside WholeStageCodegen —
    no Python evaluation in the scan path."""
    from walmart_project_etl_spark.functions import rules
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.select(
        rules.discount_amount("l_extendedprice", "l_discount").alias("d"),
        rules.price_tier("l_extendedprice").alias("t"))
    plan = _plan(q)
    assert "codegen id" in plan  # formatted mode's WholeStageCodegen marker
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed+sorted on the join key at the same bucket count
    must sort-merge-join with NO Exchange (the pre-paid-shuffle pattern for
    repeated fact-to-fact joins at 100 TB)."""
    from walmart_project_etl_spark.sources.catalog import Warehouse
    wh = Warehouse(spark, str(tmp_path / "wh"))
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    wh.write_bucketed("stg", "lineitem_b", li, "l_orderkey", n_buckets=4)
    wh.write_bucketed("stg", "orders_b",
                      orders.withColumnRenamed("o_orderkey", "l_orderkey"),
                      "l_orderkey", n_buckets=4)
    a, b = wh.read_table("stg", "lineitem_b"), wh.read_table("stg", "orders_b")
    joined = (a.hint("merge").join(b, "l_orderkey")
              .select("l_orderkey", "l_quantity", "o_totalprice"))
    plan = _plan(joined, "simple")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    n = joined.count()
    assert n == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    for t in ("stg_lineitem_b", "stg_orders_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_embedding_lsh_dedup_is_band_join_not_all_pairs(spark):
    """The scale twin of the all-pairs embedding dedup must generate
    candidates via a (band, band_bits) equi-join — no cartesian product or
    nested-loop join anywhere in the plan."""
    from walmart_project_etl_spark.operators import dedup
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(dedup.embedding_lsh_pairs(emb, "vec_id", "embedding"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan  # the equi-join key is the band hash


def test_no_single_partition_exchange_in_dim_builds(spark):
    """Surrogate keys are identity hashes everywhere (staging dims, SCD1
    merge, SCD2 apply): no dim-build plan may contain a single-partition
    exchange — the global row_number-sequence bottleneck."""
    from walmart_project_etl_spark.operators.merge import scd1_merge
    from walmart_project_etl_spark.operators.scd2 import scd2_apply
    from walmart_project_etl_spark.plans.staging import (build_stg_customer,
                                                         build_stg_store)
    ts = F.lit("2026-01-01").cast("timestamp")
    cust = spark.createDataFrame(
        [("C1", "Alice", "44", "Corporate", "Napa", "CA", "94559", "West")],
        "customer_id string, customer_name string, customer_age string, "
        "customer_segment string, city string, state string, zip_code string, "
        "region string")
    store = spark.createDataFrame(
        [("S1", "Napa Store", "Napa, CA", "Napa", "CA", "94559", "West")],
        "store_id string, store_name string, location string, city string, "
        "state string, zip_code string, region string")
    src = spark.createDataFrame([("K1", "v", 1.0)], "k string, a string, b double")
    dim1 = scd1_merge(None, src, "k", ["a", "b"], "sk", ts)
    dim2 = scd1_merge(dim1, src, "k", ["a", "b"], "sk", ts)
    s1 = scd2_apply(None, src, "k", ["a", "b"], "sk", "2026-01-01", ts)
    s2 = scd2_apply(s1, src, "k", ["a", "b"], "sk", "2026-02-01", ts)
    for df in (build_stg_customer(cust, "B1", ts),
               build_stg_store(store, "B1", ts), dim1, dim2, s1, s2):
        assert "SinglePartition" not in _plan(df)


def test_decontaminate_is_broadcast_semi_probe(spark):
    """The benchmark gram set must broadcast (eval sets are tiny) — the
    corpus side is one scan with a broadcast left-semi probe, never a
    shuffled join keyed on grams."""
    from walmart_project_etl_spark.operators.dedup import decontaminate
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    plan = _plan(decontaminate(docs, bench, "doc_id", "text", n=8))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_chunk_text_is_narrow(spark):
    """Token-window chunking is a pure narrow transform: no Exchange
    anywhere — a 100 TB corpus chunks at scan speed."""
    from walmart_project_etl_spark.operators.text import chunk_text
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert "Exchange" not in _plan(chunk_text(docs, "doc_id", "text", 32, 24))


def test_cap_per_group_prunes_past_k_map_side(spark):
    """The per-group cap must plan a WindowGroupLimit (rank filter pushed
    below the shuffle) so a hot group streams, not sorts, its tail away."""
    from walmart_project_etl_spark.operators.sampling import cap_per_group
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(cap_per_group(docs, "source", 10, "doc_id"))
    assert "WindowGroupLimit" in plan


def test_pack_sequences_single_group_shuffle(spark):
    """Packing plans exactly ONE Exchange — the hash-group partitioning for
    the running-sum window; no global sort, no second shuffle."""
    from walmart_project_etl_spark.operators.packing import pack_sequences
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sized = docs.select("doc_id", F.size(F.split("text", r"\s+"))
                        .cast("long").alias("n_tokens"))
    plan = _plan(pack_sequences(sized, "doc_id", "n_tokens", capacity=64),
                 mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan


def test_unigram_logprob_scoring_join_broadcasts_vocab(spark):
    """The Zipf-skewed token key must NEVER be a shuffle-join key: the
    vocabulary (with logprobs) broadcasts to the per-doc token counts."""
    from walmart_project_etl_spark.operators.text import unigram_logprob
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(unigram_logprob(docs, "doc_id", "text"))
    assert "BroadcastHashJoin" in plan
    # the only SortMergeJoin-able key here would be the token — forbid it
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_is_anti_join_on_digest(spark):
    """Batch-vs-corpus dedup must plan an anti-join keyed on the content
    digest — one uniform-key pass, no all-pairs comparison."""
    from walmart_project_etl_spark.operators.dedup import incremental_exact_dedup
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    plan = _plan(incremental_exact_dedup(batch, corpus, "doc_id", "text"))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
