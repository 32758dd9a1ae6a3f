"""Warm time of `dedup.word_ngrams` by document length.

Builds, for each length in 200, 1,000 and 3,000 tokens per doc, enough
random-word docs to make about 60k trigrams, caches them, runs the
shingler once to warm up, then times `--reps` runs and prints the median.
Each run plans the query afresh and sums a hash of every shingle, so every
n-gram is built. The
corpus is the same for a given seed at any commit, so run this script at
two commits (copy it into the other checkout) to compare the shingler.

Usage: python scripts/bench_shingles.py [--reps 5] [--seed 1] [--grams 60000]
"""

from __future__ import annotations

import argparse
import os
import random
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LENGTHS = (200, 1000, 3000)
N = 3
_WORDS = ("the and of to is a in it data page table scan layout column text "
          "block line word order span image media codec spark worker task "
          "north south river valley harbor market winter summer").split()


def _docs(spark, n_tokens: int, grams: int, seed: int):
    rng = random.Random(seed * 100_003 + n_tokens)
    rows = [(f"d{i:05d}", " ".join(rng.choice(_WORDS)
                                   for _ in range(n_tokens)))
            for i in range(max(1, grams // (n_tokens - N + 1)))]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    df = df.repartition(spark.sparkContext.defaultParallelism).cache()
    df.count()
    return df


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--grams", type=int, default=60_000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sparkstract.operators.dedup import word_ngrams
    from sparkstract.session import get_spark

    spark = get_spark(app="bench_shingles")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(f"{'tokens/doc':>10} {'docs':>6} {'shingles':>8} {'median s':>9}"
              f"   ({args.reps} warm reps, "
              f"{spark.sparkContext.defaultParallelism} cores)")
        for n_tokens in LENGTHS:
            docs = _docs(spark, n_tokens, args.grams, args.seed)
            # a fresh plan per run: re-running one DataFrame would reuse
            # its finished shuffle stages and skip the shingling
            def run():
                return word_ngrams(docs, n=N).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.hash("ngram"))).collect()[0]["n"]

            n_grams = run()  # warm-up
            times = []
            for _ in range(args.reps):
                t = time.perf_counter()
                run()
                times.append(time.perf_counter() - t)
            print(f"{n_tokens:>10} {docs.count():>6} {n_grams:>8} "
                  f"{statistics.median(times):>9.3f}")
            docs.unpersist()
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
