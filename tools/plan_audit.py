#!/usr/bin/env python3
# Catalyst plan audit of the headline queries: verifies predicate pushdown
# (PushedFilters), column pruning (ReadSchema), join strategy, and counts
# exchanges/python nodes. It runs each query and reads AQE's executed final
# plan, so exchange reuse (ReusedExchange) and pruned branches show. Output
# recorded in BENCH/PLANS.md per round.
import os, sys, re
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from collections import Counter
from pyspark.sql import SparkSession
import __spark_entry__ as e
from ocr_spark.pipeline.job import configure

spark = configure(SparkSession.builder.master("local[4]").appName("plans")
    .config("spark.ui.enabled","false").config("spark.ui.showConsoleProgress","false")
    # a plan's text cuts each scan's metadata (ReadSchema) at 100 chars by default
    .config("spark.sql.maxMetadataStringLength", "1000"), 8).getOrCreate()
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
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":  # no exchange: no AQE
        plan = plan.executedPlan()
    plan = plan.toString()
    # one node a line: its name follows the tree prefix and codegen marker
    nodes = Counter(re.findall(r"(?m)^[ :|+-]*(?:\*\(\d+\) )?(\w+)", plan))
    n_exch = nodes["Exchange"]
    n_bex = nodes["BroadcastExchange"]
    n_reused = nodes["ReusedExchange"]
    n_bhj = nodes["BroadcastHashJoin"]
    n_smj = nodes["SortMergeJoin"] + nodes["ShuffledHashJoin"]
    n_wsc = len(set(re.findall(r"\*\((\d+)\)", plan)))
    # the executed plan also prints the empty lists
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p]
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    n_py = sum(nodes[k] for k in ("ArrowEvalPython", "BatchEvalPython", "FlatMapsInPandas", "MapInPandas"))
    n_cart = nodes["BroadcastNestedLoopJoin"] + nodes["CartesianProduct"]
    # single-partition exchanges (a global-sort/global-window funnel unless
    # the input is already limit-bounded); top-k queries must show 0 here
    n_sp = len(re.findall(r"(?m)^[ :|+-]*Exchange SinglePartition", plan))
    n_tko = nodes["TakeOrderedAndProject"]
    print(f"== {name}: exchanges={n_exch} bcastExch={n_bex} reused={n_reused} bcastJoin={n_bhj} shuffleJoin={n_smj} codegen={n_wsc} pythonNodes={n_py} cartesian={n_cart} singlePartExch={n_sp} takeOrdered={n_tko}")
    for p in pushed[:4]:
        print(f"   pushed: [{p[:100]}]")
    for s in schemas[:4]:
        print(f"   readSchema: {s[:110]}")
spark.stop()
