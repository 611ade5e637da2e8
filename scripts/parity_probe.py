"""Parallelism-invariance probe: the same query must produce BIT-IDENTICAL
results at local[8] and local[32] (fixed seen shards, deterministic
tie-breaks, order-insensitive compare). Run one leg per process (a JVM
can't change master); compare the printed JSON of md5-per-query.

Usage:
    PYTHONPATH=/root/repo python scripts/parity_probe.py 8  > /tmp/p8.json
    PYTHONPATH=/root/repo python scripts/parity_probe.py 32 > /tmp/p32.json
    diff /tmp/p8.json /tmp/p32.json   # empty = invariant

r4 record: all 11 probed queries (dedup families, sign-LSH ANN,
politeness quota, top-k, arrow canonicalizer, windowed counts, P4)
matched bit-for-bit (the canonicalizer was then probed as
`url_canonicalize_arrow`; that query is now `url_canonicalize`).
"""
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from price_crawler_spark.session import get_spark  # noqa: E402

QS = [
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_embedding_cosine", "ann_signlsh_topk", "politeness_quota",
    "topk_per_store", "url_canonicalize", "windowed_event_counts",
    "coolpc_js_arrays", "dedup_minhash_lsh_fast",
]


def main() -> None:
    import __spark_entry__ as e

    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark(f"parity{cores}", cores=cores, shuffle_partitions=cores)
    out = {}
    for q in QS:
        df = e.queries()[q](spark, sf_dir).toPandas()
        df = df[sorted(df.columns)]
        rows = sorted(
            tuple(str(v) for v in r) for r in df.itertuples(index=False)
        )
        out[q] = hashlib.md5(json.dumps(rows).encode()).hexdigest()
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
