"""What each workload runs, shared by ``run.py`` and ``oracle.py``."""

from __future__ import annotations

import os

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
# Copies of the repository's synthetic test tables (seed 42): sf0.01
# is what the timed passes read, sf0.001 is for the smoke test.
DATA_DIRS = {sf: os.path.join(BENCH_DIR, "data", f"sf{sf}") for sf in ("0.01", "0.001")}
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# curation: the text/vector curation family. Executor CPU in the
# dedup, similarity, text and vector kernels dominates, and session
# memos serve x07 and x42 once the cold pass has built them. x32 is
# left out: its warm latency varied twofold between the passes of one
# quiet run, more than any other op.
CURATION_OPS = (
    "x01_dedup_exact",
    "x07_minhash_lsh_pairs",
    "x10_embedding_cosine_topk",
    "x33_sequence_packing",
    "x36_decontamination",
    "x40_robust_stats",
    "x42_ann_batch_retrieval",
    "x44_bm25_search",
)

# warehouse_refresh: each written layer directory and the registry
# query whose oracle defines its contents. raw_uk_holidays has no
# pl query and is checked by the validation layer only.
LAYER_ORACLES = {
    "raw_retail_data": "pl01_staging_retail",
    "raw_fx_rates": "pl02_staging_fx",
    "dim_calendar": "pl03_dim_calendar",
    "dim_product": "pl04_dim_product",
    "dim_customer": "pl05_dim_customer",
    "fct_sales": "pl06_fct_sales",
    "daily_fx_rates": "pl07_daily_fx_rates",
    "fct_sales_eur": "pl08_fct_sales_eur",
    "agg_country_day": "pl09_agg_country_day",
    "v_monthly_sales_summary": "pl10_monthly_sales_summary",
    "validation": "pl11_validation",
}

WORKLOADS = ("warehouse_refresh", "curation")
