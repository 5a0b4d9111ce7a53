"""Scale run of the exact Jaccard join on the seeded benchmark corpus.

Writes ``perfbench.gen.gen_corpus(seed, docs)`` to a temporary
directory, cleans the text with ``textclean.clean_text`` (as the
``llm_dedup`` workload does), then times ``jaccard_similarity_join``
from the call to the collected pair set. It checks that every planted
near-duplicate pair whose generator Jaccard (``gen.jaccard`` over
``gen.shingle_codes``) is at least the threshold is found, and exits 1
when one is missing.

Usage::

    python scripts/jaccard_scale.py [--docs 100000] [--seed 1]
        [--threshold 0.5] [--master local[4]]

Shingles are ``gen.SHINGLE_N`` (3) tokens, the unit the generator's
Jaccard counts in.

Prints one JSON line: documents, threshold, join seconds, pairs
returned, planted pairs at or above the threshold, and those missed.
Not part of the test suite; it changes nothing under ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args()

    # the Python workers Spark starts inherit this, so they import the
    # package from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from bi_utils_spark import get_spark
    from bi_utils_spark.operators import textclean
    from bi_utils_spark.operators.dedup import jaccard_similarity_join
    from bi_utils_spark.sources.tables import load_table

    spark = get_spark("jaccard-scale", master=args.master)
    try:
        with tempfile.TemporaryDirectory(prefix="jaccard_scale_") as tmp:
            _, corpus = gen.gen_corpus(args.seed, tmp, args.docs)
            docs = load_table(spark, tmp, "docs").select(
                "doc_id", textclean.clean_text("text").alias("text")
            )
            t0 = time.perf_counter()
            pairs = {
                (r["id_a"], r["id_b"])
                for r in jaccard_similarity_join(
                    docs, "doc_id", "text",
                    threshold=args.threshold, shingle_n=gen.SHINGLE_N,
                ).collect()
            }
            join_s = time.perf_counter() - t0
    finally:
        spark.stop()

    planted = [
        (a, b)
        for a, b in corpus.near_pairs
        if gen.jaccard(
            gen.shingle_codes(corpus.docs[a]), gen.shingle_codes(corpus.docs[b])
        ) >= args.threshold
    ]
    missed = [p for p in planted if p not in pairs]
    print(json.dumps({
        "docs": args.docs,
        "seed": args.seed,
        "threshold": args.threshold,
        "join_s": round(join_s, 2),
        "pairs": len(pairs),
        "planted_at_or_above_t": len(planted),
        "planted_missed": len(missed),
        "missed_sample": missed[:10],
    }))
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
