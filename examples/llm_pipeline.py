#!/usr/bin/env python
"""LLM training-data mini-pipeline — the capability tier beyond the
reference's examples crate: exact dedup -> quality filter -> fuzzy
dedup -> token accounting over the `documents` table, each step a
registry operator (see `__spark_entry__.queries()` for all 360).

Usage: python examples/llm_pipeline.py [data_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_ballista_spark import BallistaSession
from datafusion_ballista_spark.inventory import all_queries


def main() -> None:
    data = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    bs = BallistaSession.standalone(cpus=4)
    queries = all_queries()

    for step in (
        "dedup_exact",  # hash-groupBy exact duplicate clusters
        "quality_c4_filters",  # C4 heuristics (len/punct/stopword)
        "dedup_minhash_lsh",  # banded MinHash-LSH near-dup candidates
        "train_pack_concat_chunks",  # GPT-style concat-and-chunk packing
    ):
        print(f"== {step}")
        queries[step].spark(bs.spark, data).show(5, truncate=120)

    bs.stop()


if __name__ == "__main__":
    main()
