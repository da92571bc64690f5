#!/usr/bin/env python3
# Catalyst plan audit of the headline queries: verifies predicate pushdown
# (PushedFilters), column pruning (ReadSchema), join strategy, and counts
# exchanges/python nodes. Output recorded in BENCH/PLANS.md per round.
import os, sys, re, io
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from contextlib import redirect_stdout
from pyspark.sql import SparkSession
import __spark_entry__ as e

spark = (SparkSession.builder.master("local[4]").appName("plans")
    .config("spark.sql.shuffle.partitions","8").config("spark.ui.enabled","false")
    .config("spark.ui.showConsoleProgress","false")
    .config("spark.sql.session.timeZone","UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.01"

AUDIT = ["q1_pricing_summary","q3_order_revenue","q5_nation_volume","brand_volume",
         "events_sessionize","doc_quality","minhash_signatures","ngram_jaccard",
         "simhash_bits","emb_cosine_topk","emb_lsh_topk","emb_near_dups_lsh",
         "winnow_fingerprints","q1_rollup","nations_except",
         "q4_order_priority","q17_small_qty_revenue","q1_cube",
         "events_asof_click","doc_length_quantiles",
         "events_top_users","token_histogram","lsh_jaccard_est",
         "simhash_near_dups","emb_dedup_survivors","events_range_clicks",
         "top_parts_per_type",
         "doc_pii_redact","doc_repetition","q10_returned_customers",
         "doc_split_counts","doc_sample_10pct",
         "q7_volume_shipping","q8_market_share","q13_order_distribution",
         "q15_top_supplier","q18_large_orders","q19_disjunctive_revenue",
         "q22_idle_customers","q21_waiting_suppliers","q9_profit_by_nation",
         "q11_important_parts","q16_supplier_counts","q20_excess_shippers",
         "q2_min_cost_supplier",
         "ocr_extract_spans","ocr_extract_interleaved3"]
q = e.queries()
for name in AUDIT:
    df = q[name](spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    n_exch = len(re.findall(r"\bExchange\b", plan))
    n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
    n_smj = len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan))
    n_wsc = len(re.findall(r"WholeStageCodegen", plan))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    n_py = len(re.findall(r"ArrowEvalPython|BatchEvalPython|FlatMapsInPandas|MapInPandas", plan))
    n_cart = len(re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan))
    # single-partition exchanges (a global-sort/global-window funnel unless
    # the input is already limit-bounded); top-k queries must show 0 here
    n_sp = len(re.findall(r"SinglePartition", plan))
    n_tko = len(re.findall(r"TakeOrderedAndProject", plan))
    print(f"== {name}: exchanges={n_exch} bcastJoin={n_bhj} shuffleJoin={n_smj} codegen={n_wsc} pythonNodes={n_py} cartesian={n_cart} singlePartExch={n_sp} takeOrdered={n_tko}")
    for p in pushed[:4]:
        print(f"   pushed: [{p[:100]}]")
    for s in schemas[:4]:
        print(f"   readSchema: {s[:110]}")
spark.stop()
