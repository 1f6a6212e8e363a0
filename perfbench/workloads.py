"""The benchmark's workloads: which `SparkEntry.queries` cells each times.

Most cells are served: they share one scratch dir that is kept across
runs of one build, so a run reads artifacts that are already built; a
run that finds none builds them in its first warm-up pass, and no later
pass may write one. The `writers` are cells whose DataFrame build writes
an artifact: each gets an empty scratch dir on every pass, so it pays for
its write and then its read on every pass, and it must write one.

Each list is the part of the workload's starting set whose cold pass and
warm passes fit one run (see README.md, "Cells left out"). `pass_s` is
the warm pass time on the reference box; it turns `--seconds` into a
count of timed passes.
"""

WORKLOADS = {
    "aact_medallion": {
        "warmup": 2,
        "pass_s": 6.8,
        "why": "the paper's medallion ETL, star schema and opportunity score; "
               "sub-second cells where DataFrame build, Catalyst and stage "
               "scheduling dominate, plus two writers for the Tables write side",
        "cells": [
            "q01_scan_filter_project", "q02_sentinel_cleaning",
            "q04_ilike_any_categorize", "q07_date_dim", "q08_surrogate_dim",
            "q10_fact_star_join", "q17_opportunity_score",
            "q44_full_width_silver", "q27_csv_roundtrip", "q45_dim_dates_append",
        ],
        "writers": ["q27_csv_roundtrip", "q45_dim_dates_append"],
    },
    "llm_pipeline": {
        "warmup": 2,
        "pass_s": 4.7,
        "why": "heavy LLM-data-pipeline operators over built artifacts; most "
               "time is executor work, so kernel, shuffle and spill changes "
               "show here and a floor cut leaves it flat",
        "cells": [
            "q19_minhash_neardup", "q21_ngram_jaccard", "q102_semantic_dedup",
            "q24_ann_cosine_topk", "q52_ann_ivf_topk",
        ],
        "writers": [],
    },
}
