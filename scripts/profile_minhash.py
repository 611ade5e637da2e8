"""Stage-level profile of minhash_lsh_pairs (VERDICT r2 item 8).

Times each cumulative prefix of the MinHash+LSH pipeline at sf0.1 so the
7-ish bench seconds can be attributed to a stage: shingle-string build,
shingle hashing (portable md5+conv vs fast xxhash64), 16-permutation
signature, band self-join, exact-Jaccard verify. Each prefix materializes
through the noop sink; deltas between prefixes ≈ per-stage cost (the usual
caveat: Catalyst may pipeline differently once later stages attach, so the
full-pipeline number is also measured directly).

Usage: python scripts/profile_minhash.py [sf_dir] [n_reps]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from price_crawler_spark.functions.text import shingles
from price_crawler_spark.pipeline import dedup
from price_crawler_spark.session import DEFAULT_CPUS, get_spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = DEFAULT_CPUS
    spark = get_spark("profile-minhash", cores=cpus, shuffle_partitions=cpus)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    docs = docs.repartition(cpus * 2).cache()
    n_docs = docs.count()

    def timed(label: str, build):
        # median-of-reps; clearCache between reps releases dedup's persists
        ts = []
        for _ in range(reps):
            t0 = time.time()
            _noop(build())
            ts.append(time.time() - t0)
            spark.catalog.clearCache()
            docs.cache().count()  # re-pin the input after the blanket clear
        return label, round(statistics.median(ts), 3)

    k, num_hashes, bands = 3, 16, 8

    def shingle_only():
        return docs.select(
            F.array_distinct(shingles("text", k)).alias("sh")
        ).filter(F.size("sh") > 0)

    def hashed(family: str):
        def b():
            sh = F.array_distinct(shingles("text", k))
            base = docs.select(F.col("doc_id").alias("id"), sh.alias("sh")).filter(
                F.size("sh") > 0
            )
            if family == "fast":
                hh = F.transform(
                    F.col("sh"),
                    lambda s: F.struct(
                        dedup.fast_shingle_hash(s).alias("h1"),
                        F.pmod(F.xxhash64(s, F.lit(1)), F.lit(dedup._M48)).alias("h2"),
                    ),
                )
            else:
                hh = F.transform(
                    F.col("sh"),
                    lambda s: F.struct(
                        dedup._hex_int(F.md5(s), 1).alias("h1"),
                        dedup._hex_int(F.md5(s), 13).alias("h2"),
                    ),
                )
            return base.select("id", hh.alias("hh"))

        return b

    def signatures(family: str):
        return lambda: dedup.minhash_signatures(
            docs, "doc_id", "text", k, num_hashes, family
        )

    def full(family: str):
        return lambda: dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k, num_hashes, bands, 0.2, family
        )

    stages = [
        timed("shingle_build", shingle_only),
        timed("plus_hash_portable", hashed("portable")),
        timed("plus_hash_fast", hashed("fast")),
        timed("plus_signature_portable", signatures("portable")),
        timed("plus_signature_fast", signatures("fast")),
        timed("full_pipeline_portable", full("portable")),
        timed("full_pipeline_fast", full("fast")),
    ]
    out = dict(stages)
    out.update(
        {
            "metric": "minhash_lsh stage-prefix medians (sec)",
            "n_docs": n_docs,
            "reps": reps,
            "cpus": cpus,
            "sf_dir": sf_dir,
            "loadavg": round(os.getloadavg()[0], 1),
        }
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
