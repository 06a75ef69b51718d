"""The benchmark's workloads, input size and session settings.

A workload is a list of declared queries from ``__spark_entry__.queries()``.
See ``perfbench/README.md`` for which per-layer metric should move which
end-to-end metric on which workload.
"""

from __future__ import annotations

# Input size: the engine's sf0.01 test tables (60,000 lineitem rows, 500
# documents; 1.9 MB of parquet), in the directory TESTDATA.md names.  At
# this size a query's latency is its jobs, JIT and driver loops, not its
# compute, which is the regime the engine is tuned for.
SCALE = "0.01"
# Session settings the benchmark sets (the engine default heap, 24g, is
# larger than a 15 GB host).
DRIVER_MEM = "4g"
# Warm passes after the cold one; the warm metrics read these passes and
# no others, whatever the speed of the code.
WARM_PASSES = 2


# Queries per workload, picked by layer and cost before any oracle result
# was looked at.  Why each workload exists is in BENCHMARK.json.
WORKLOADS = {
    "finance_core": (
        "averages",               # operators/transform
        "groupby_merge_std",      # operators/merge
        "portfolio_averages",     # operators/port
        "cumulate_between",       # operators/cum
        "fillna_by_groups",       # operators/filldata
        "reg_by",                 # operators/regby
        "autocorr",               # operators/corr
        "drawdown",               # operators/timeseries
        "year_month_sas",         # functions/datetime_utils
        "sql_tpch_q1",            # query.sql
        "sql_tpch_q6",            # query.sql
    ),
    "extensions_stream": (
        "text_token_count",       # extensions/text tokenizer
        "doc_fingerprint",        # extensions/text hashing
        "shingle_fingerprints",   # extensions/text shingles
        "k_core",                 # extensions/graph driver loop
        "tumbling_window",        # streaming/windows
        "session_window",         # streaming/windows
        "streaming_topk",         # streaming/stateful, foreachBatch + versioned state
    ),
}
