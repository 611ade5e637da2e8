"""Training-data pipeline layer: Spark ↔ DuckDB oracle parity on the
driver's documents/embeddings tables (sf0.001), mirroring the driver's
order-insensitive value compare."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from price_crawler_spark.pipeline import ann, dedup, multimodal

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def assert_same(spark_df, duck_rel, sort_cols=None):
    s = spark_df.toPandas()
    d = duck_rel.df()
    assert list(sorted(s.columns)) == list(sorted(d.columns))
    cols = sort_cols or sorted(s.columns)
    s = s[sorted(s.columns)].sort_values(cols).reset_index(drop=True)
    d = d[sorted(d.columns)].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(s, d, check_dtype=False)


def test_exact_dedup_matches_duckdb(docs, duck):
    assert_same(dedup.exact_dedup(docs), duck.sql(dedup.duckdb_exact_dedup()))


def test_drop_exact_dupes_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "a  b"), (2, "A b"), (3, "c")], ["doc_id", "text"]
    )
    kept = sorted(r.doc_id for r in dedup.drop_exact_dupes(df).collect())
    assert kept == [1, 3]  # 2 is a normalized dup of 1


def test_minhash_lsh_pairs_match_duckdb(docs, duck):
    assert_same(
        dedup.minhash_lsh_pairs(docs),
        duck.sql(dedup.duckdb_minhash_lsh_pairs()),
    )


def test_minhash_candidates_superset_of_high_jaccard(spark):
    # property: a pair with jaccard 1.0 (identical text) always collides
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely here now")],
        ["doc_id", "text"],
    )
    pairs = dedup.minhash_lsh_pairs(df, threshold=0.9).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].jaccard == 1.0


def test_simhash_matches_duckdb(docs, duck):
    assert_same(dedup.simhash(docs), duck.sql(dedup.duckdb_simhash()))


def test_simhash_near_pairs_runs(docs):
    out = dedup.simhash_near_pairs(docs, max_hamming=8)
    rows = out.collect()
    for r in rows:
        assert 0 <= r.hamming <= 8 and r.id_a < r.id_b


def test_blocked_jaccard_matches_duckdb(docs, duck):
    assert_same(
        dedup.blocked_jaccard_pairs(docs),
        duck.sql(dedup.duckdb_blocked_jaccard_pairs()),
    )


def test_cosine_topk_matches_duckdb(emb, duck):
    assert_same(
        ann.cosine_topk(emb, query_vec_id=0, k=10),
        duck.sql(ann.duckdb_cosine_topk(0, 10)),
        sort_cols=["vec_id"],
    )


def test_ivf_topk_matches_duckdb(emb, duck):
    assert_same(
        ann.ivf_topk(emb, query_vec_id=0, k=10),
        duck.sql(ann.duckdb_ivf_topk(0, 10)),
        sort_cols=["vec_id"],
    )


def test_ivf_results_subset_of_bruteforce_scores(emb):
    # every IVF hit's cosine equals the brute-force cosine for that vec_id
    brute = {r.vec_id: r.cos for r in ann.cosine_topk(emb, 0, k=1000).collect()}
    for r in ann.ivf_topk(emb, 0, k=10).collect():
        assert brute[r.vec_id] == r.cos


def test_embedding_near_pairs_matches_duckdb(emb, duck):
    assert_same(
        ann.embedding_near_pairs(emb, threshold=0.2),
        duck.sql(ann.duckdb_embedding_near_pairs(threshold=0.2)),
        sort_cols=["id_a", "id_b"],
    )


def test_embedding_near_pairs_block_local(emb):
    """Every emitted pair shares the block column — the join never crosses
    coarse cells."""
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    pairs = ann.embedding_near_pairs(emb, threshold=0.2).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert labels[r.id_a] == labels[r.id_b]
        assert r.id_a < r.id_b and r.cos >= 0.2


def test_signlsh_topk_matches_duckdb(emb, duck):
    """r3: the md5-derived hyperplanes are replayed in DuckDB
    (('0x'||hex)::BIGINT ≡ conv(hex,16,10); same left-fold projections), so
    the probe has a full value oracle, not just a rows-only check."""
    assert_same(
        ann.signlsh_topk(emb, query_vec_id=0, k=10),
        duck.sql(ann.duckdb_signlsh_topk(0, 10)),
        sort_cols=["vec_id"],
    )


def test_signlsh_bucket_matches_duckdb(emb, duck):
    from pyspark.sql import functions as F

    assert_same(
        emb.select("vec_id", ann.signlsh_bucket(F.col("embedding")).alias("bkt")),
        duck.sql(
            "SELECT vec_id, "
            + ann._duckdb_signlsh_bucket("embedding")
            + " AS bkt FROM embeddings"
        ),
        sort_cols=["vec_id"],
    )


def test_signlsh_bucket_deterministic_and_topk_consistent(emb):
    from pyspark.sql import functions as F

    b1 = emb.select(ann.signlsh_bucket(F.col("embedding")).alias("b")).collect()
    b2 = emb.select(ann.signlsh_bucket(F.col("embedding")).alias("b")).collect()
    assert [r.b for r in b1] == [r.b for r in b2]
    assert all(0 <= r.b < 256 for r in b1)
    brute = {r.vec_id: r.cos for r in ann.cosine_topk(emb, 0, k=1000).collect()}
    hits = ann.signlsh_topk(emb, 0, k=10).collect()
    assert len(hits) > 0
    for r in hits:
        assert brute[r.vec_id] == r.cos


def test_multimodal_decode_matches_duckdb(docs, duck):
    media = multimodal.with_media_payload(docs)
    assert_same(
        multimodal.decode_media(media),
        duck.sql(multimodal.duckdb_decoded_media()),
    )


def test_sample_frames_matches_duckdb(docs, duck):
    decoded = multimodal.decode_media(multimodal.with_media_payload(docs))
    assert_same(
        multimodal.sample_frames(decoded),
        duck.sql(multimodal.duckdb_sampled_frames()),
    )


def test_resize_media_matches_duckdb(docs, duck):
    decoded = multimodal.decode_media(multimodal.with_media_payload(docs))
    assert_same(
        multimodal.resize_media(decoded),
        duck.sql(multimodal.duckdb_resized_media()),
        sort_cols=["doc_id"],
    )
    # invariant: resized dims fit the box (>= one dim within 1px of it —
    # floor of w*(224/w) can land on 223 in IEEE double)
    for r in multimodal.resize_media(decoded).collect():
        assert 1 <= r.new_width <= 224 and 1 <= r.new_height <= 224
        assert r.new_width >= 223 or r.new_height >= 223


def test_media_features_match_duckdb(docs, duck):
    assert_same(
        multimodal.media_feature_vector(multimodal.with_media_payload(docs)),
        duck.sql(multimodal.duckdb_media_features()),
        sort_cols=["doc_id"],
    )
    rows = multimodal.media_feature_vector(
        multimodal.with_media_payload(docs)
    ).collect()
    assert all(len(r.feat) == 4 and all(0 <= v < 1 for v in r.feat) for r in rows)


def test_real_decode_is_gated():
    with pytest.raises(NotImplementedError):
        multimodal.real_decode_image(b"\x89PNG")


def test_minhash_fast_family_agrees_on_exact_dups(spark):
    """The fast (xxhash64) family must find the same exact-duplicate pairs
    as the portable family — same banding, different hash family."""
    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(4)]
        + [(10, "totally different content with many unique words here")],
        ["doc_id", "text"],
    )
    portable = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(df, threshold=0.9).collect()}
    fast = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(df, threshold=0.9, family="fast").collect()}
    expected = {(a, b) for a in range(4) for b in range(4) if a < b}
    assert portable == fast == expected


def test_blocked_jaccard_fast_family_same_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f", "s"), (2, "a b c d e g", "s"), (3, "x y z w q r", "s")],
        ["doc_id", "text", "source"],
    )
    p = {(r.id_a, r.id_b): r.jaccard for r in dedup.blocked_jaccard_pairs(df).collect()}
    f = {(r.id_a, r.id_b): r.jaccard for r in dedup.blocked_jaccard_pairs(df, family="fast").collect()}
    assert p == f  # jaccard over hashed sets is hash-family-invariant (no collisions here)


def test_dedup_families_on_adversarial_docs(spark):
    """Empty text, sub-shingle-length text, NULL text, whitespace-only,
    unicode exact duplicates, and a 2000-token doc must neither crash any
    family nor suppress the one real duplicate pair (verify-skill probes,
    r4)."""
    from price_crawler_spark.pipeline import dedup as D

    rows = [
        ("d0", "", "s"), ("d1", "ab", "s"), ("d2", None, "s"),
        ("d3", "完全 相同 的 文本 內容 重複", "s"),
        ("d4", "完全 相同 的 文本 內容 重複", "s"),
        ("d5", "   ", "s"), ("d6", "x " * 2000, "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string, source string")

    for fam in ("portable", "fast"):
        pairs = D.minhash_lsh_pairs(docs, family=fam).collect()
        assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [
            ("d3", "d4", 1.0)
        ], fam
    ng = D.blocked_jaccard_pairs(docs).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in ng] == [("d3", "d4", 1.0)]
    # blockless mode (block_cols=()) degrades to all-pairs, same answer here
    assert len(D.blocked_jaccard_pairs(docs, block_cols=()).collect()) == 1
    # simhash emits one row per non-degenerate doc, never crashes on the rest
    sh = D.simhash(docs).collect()
    assert len(sh) == 6  # only the NULL-text doc drops (no tokens)


def test_coolpc_js_arrays_adversarial_pages(spark):
    """NULL page, empty page, 19-digit overflow-ish price, a 500-element
    Header (dropped by the len==2 quirk), and 300 duplicate c1 arrays
    (last-wins collapses to ONE entry)."""
    from pyspark.sql import functions as F

    from price_crawler_spark.operators.extraction import coolpc_js_arrays

    h = spark.createDataFrame(
        [(None,), ("",), ("c1=[999999999999999999]",),
         ("Header=[" + "1," * 500 + "]",), ("c1=[1,2] " * 300,)],
        "html string",
    )
    out = h.select(coolpc_js_arrays("html").alias("a")).collect()
    sizes = [len(r["a"]) if r["a"] is not None else None for r in out]
    assert sizes == [None, 0, 1, 0, 1]
    assert out[2]["a"][0]["values"] == [999999999999999999.0]


def test_canonicalizer_impls_agree_on_junk(spark):
    """Degenerate URLs (NULL, empty, bare scheme, unicode host/query, 5k-char
    tail, 1000-segment path) canonicalize identically through the engine's
    Arrow canonicalizer in Spark and the DuckDB mirror."""
    from price_crawler_spark.functions.urls import canonicalize_with_host_arrow

    from .oracle_crawler import duckdb_canonical_rows

    junk = [None, "", "   ", "####", "http://", "://x", "http://:80",
            "https://例子.中国/路径?ключ=значение#f", "a" * 5000,
            "http://h/" + "p/" * 1000]
    df = spark.createDataFrame([(u,) for u in junk], "u string")
    got = df.select(canonicalize_with_host_arrow("u").alias("c")).collect()
    assert [tuple(r["c"]) for r in got] == duckdb_canonical_rows(junk)
