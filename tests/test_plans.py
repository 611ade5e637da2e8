"""Plan-shape tests: the scale-critical Catalyst properties (pushdown,
pruning, broadcast, codegen) asserted against real physical plans on the
driver's parquet tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from price_crawler_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filters,
    assert_read_schema_only,
    assert_wholestage_codegen,
    explain_str,
)
from price_crawler_spark.frontier.politeness import with_host_salt
from price_crawler_spark.plans.partitioning import (
    N_SEEN_SHARDS,
    seen_shard,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_filter_pushdown_reaches_parquet(orders):
    df = orders.filter(F.col("o_totalprice") > 1000.0).select("o_orderkey")
    assert_pushed_filters(df, "GreaterThan(o_totalprice,1000.0)")


def test_column_pruning_reaches_parquet(lineitem):
    df = lineitem.select("l_orderkey", "l_quantity")
    assert_read_schema_only(df, "l_orderkey", "l_quantity")


def test_projection_filter_pruned_together(lineitem):
    df = (
        lineitem.filter(F.col("l_returnflag") == "N")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    assert_pushed_filters(df, "EqualTo(l_returnflag,N)")
    assert_read_schema_only(df, "l_returnflag", "l_quantity")
    assert_wholestage_codegen(df)


def test_small_dim_join_broadcasts(spark, orders):
    dim = spark.createDataFrame(
        [(i, f"h{i}") for i in range(20)], ["k", "name"]
    )
    joined = orders.join(dim, orders.o_custkey % 20 == dim.k)
    assert_broadcast_join(joined)


def test_extraction_stays_in_codegen(spark):
    """Price extraction compiles into whole-stage codegen with no Python in
    the plan; the URL canonicalizer crosses to Python only as Arrow batches
    (ArrowEvalPython), never row-at-a-time (BatchEvalPython)."""
    from price_crawler_spark.functions.prices import extract_price
    from price_crawler_spark.functions.urls import canonicalize_with_host_arrow

    part = spark.read.parquet(f"{SF}/part.parquet")
    df = part.select(
        extract_price(F.concat(F.lit("NT$"), F.col("p_retailprice"))).alias("p"),
    )
    assert_wholestage_codegen(df)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    canon = part.select(
        canonicalize_with_host_arrow(
            F.concat(F.lit("https://x.com/a?b="), "p_name")
        ).alias("c")
    )
    plan = explain_str(canon)
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_similarity_is_arrow_not_row_python(spark):
    """The one Python crossing (difflib similarity) must be Arrow-batched
    (ArrowEvalPython), never row-at-a-time BatchEvalPython."""
    from price_crawler_spark.operators.matcher import similarity_col

    part = spark.read.parquet(f"{SF}/part.parquet")
    df = part.select(similarity_col("red widget", F.col("p_name")).alias("s"))
    plan = explain_str(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_topn_plans_as_take_ordered_not_global_window(spark):
    """The global top-N tails (blocked-jaccard pairs, sapphire unpriced cap,
    page-1 pagination) must plan as TakeOrderedAndProject — never a
    single-partition WindowExec."""
    from price_crawler_spark.operators.search import paginate
    from price_crawler_spark.pipeline.dedup import blocked_jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = explain_str(blocked_jaccard_pairs(docs))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    page1 = paginate(orders, page=1, per_page=20, order_cols=("o_orderkey",))
    plan1 = explain_str(page1)
    assert "TakeOrderedAndProject" in plan1
    assert "Window" not in plan1


def test_embedding_near_pairs_prunes_columns(spark):
    """The block-local embedding self-join reads only (vec_id, label,
    embedding) from parquet and keeps the cosine fold in the JVM (no Python
    in the plan)."""
    from price_crawler_spark.pipeline.ann import embedding_near_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = embedding_near_pairs(emb, threshold=0.2)
    assert_read_schema_only(df, "vec_id", "embedding", "label")
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_seen_shard_is_parallelism_independent(spark):
    """Shard membership depends only on the hash value — never on the
    session's parallelism (SURVEY §7.3.5: resizing the cluster must not
    move keys between Bloom shards)."""
    df8 = spark.range(1000).select(
        seen_shard(F.xxhash64("id")).alias("s")
    )
    rows = [r.s for r in df8.orderBy("id").collect()]
    assert all(0 <= s < N_SEEN_SHARDS for s in rows)
    df_re = spark.range(1000).repartition(3).select(
        "id", seen_shard(F.xxhash64("id")).alias("s")
    )
    rows_re = {r.id: r.s for r in df_re.collect()}
    for i, s in enumerate(rows):
        assert rows_re[i] == s


def test_salted_fetch_key_only_splits_mega_hosts(spark):
    df = spark.createDataFrame(
        [("big.com", i) for i in range(100)] + [("small.com", i) for i in range(100)],
        ["host", "h"],
    ).withColumn("url_hash", F.col("h").cast("long"))
    df = with_host_salt(df, ["big.com"], 4).select("host", F.col("host_salt").alias("k"))
    keys = df.groupBy("host").agg(F.countDistinct("k").alias("n")).collect()
    by_host = {r.host: r.n for r in keys}
    assert by_host["small.com"] == 1
    assert by_host["big.com"] == 4


def test_scan_guard_repartitions_narrow_file_scan_without_rdd_probe(spark):
    """ensure_scan_parallelism: a one-file parquet scan repartitions up to
    defaultParallelism; an in-memory frame and a post-guard frame pass
    through untouched. The probe must stay metadata-only (inputFiles), so
    the plan string of an untouched frame must not grow an Exchange."""
    from price_crawler_spark.plans.partitioning import (
        _size_to_bytes,
        ensure_scan_parallelism,
    )

    target = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert len(docs.inputFiles()) < target  # premise: narrow test scan
    guarded = ensure_scan_parallelism(docs)
    assert guarded.rdd.getNumPartitions() >= target  # test may probe .rdd

    mem = spark.createDataFrame([(i,) for i in range(10)], ["x"])
    assert ensure_scan_parallelism(mem) is mem  # non-file input untouched

    # size-string parser handles every Spark conf spelling
    assert _size_to_bytes("134217728") == 134217728
    assert _size_to_bytes("128m") == 128 << 20
    assert _size_to_bytes("128MB") == 128 << 20
    assert _size_to_bytes("1g") == 1 << 30
    assert _size_to_bytes("512kb") == 512 << 10
    assert _size_to_bytes("64b") == 64


def test_scan_guard_counts_unstattable_file_as_full_bin(spark, tmp_path, monkeypatch):
    """A file the guard cannot stat (a remote object store) counts as one
    full maxPartitionBytes bin, not openCostInBytes alone: a scan of
    defaultParallelism such files is wide and must not be repartitioned.
    The same tiny files, stat'd, pack into one bin and are."""
    import os

    from price_crawler_spark.plans.partitioning import ensure_scan_parallelism

    target = spark.sparkContext.defaultParallelism
    spark.range(0, target, 1, target).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    assert len(df.inputFiles()) == target
    assert ensure_scan_parallelism(df) is not df  # tiny local files: narrow

    def unstattable(path):
        raise OSError(f"cannot stat {path}")

    monkeypatch.setattr(os.path, "getsize", unstattable)
    assert ensure_scan_parallelism(df) is df


# ---- each wave input evaluated once ------------------------------------------

def _nodes_outside_cache(df) -> list[str]:
    """Node names of ``df``'s optimized logical plan with cached frames
    substituted. An InMemoryRelation is a leaf, so the walk never enters
    the plan a cache was built from."""
    out, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        out.append(node.nodeName())
        children = node.children()
        stack += [children.apply(i) for i in range(children.size())]
    return out


def test_robots_tables_are_local_relations(spark, tmp_path):
    """The robots dimension plans as a JVM LocalRelation: a frame built from
    a Python list plans as an RDD that Python workers unpickle again on
    every broadcast of it."""
    from price_crawler_spark.frontier.robots import robots_dim
    from price_crawler_spark.frontier.wave import CrawlRun

    run = CrawlRun(spark, str(tmp_path), ["RTX 4090"])
    dim = robots_dim(spark, {"shop.example.com": "User-agent: *\nDisallow: /x\n"})
    for df in (run.robots, dim):
        assert _nodes_outside_cache(df) == ["LocalRelation"]


def test_filter_new_probes_once(spark, tmp_path):
    """filter_new runs the filter-probe cogroup once and needs no union:
    the maybe-seen residue is checked by one conditional anti-join."""
    from price_crawler_spark.frontier.seen import ShardedBloom, filter_new

    bloom = ShardedBloom(n_shards=4, bits_per_shard=1 << 8)
    old = spark.range(0, 300).select(F.xxhash64("id").alias("url_hash"))
    # the filter table read back from storage, as a wave reads it
    bloom.insert(old, None).write.parquet(str(tmp_path / "filter"))
    table = spark.read.parquet(str(tmp_path / "filter"))
    cand = spark.range(200, 600).select(
        F.xxhash64("id").alias("url_hash"), F.lpad(F.hex("id"), 8, "0").alias("seq_key")
    )
    new = filter_new(cand, old, table, bloom)
    assert new.count() == 300
    new.collect()  # finalizes the adaptive plan of this query execution
    plan = new._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FlatMapCoGroupsInPandas") == 1, final
    assert "Union" not in final, final


def test_wave_commit_reuses_the_schedule(spark, tmp_path, monkeypatch):
    """The pending table a wave commits reads the scheduled set from the
    wave's cache: no rank Window is left to re-run outside a cached
    relation."""
    import price_crawler_spark.sources.store as store_mod
    from price_crawler_spark.frontier.wave import CrawlRun

    real_commit = store_mod.SnapshotStore.commit
    pending_plans = []

    def recording_commit(self, tables_replace=None, **kwargs):
        pending_plans.append(_nodes_outside_cache(tables_replace["pending"]))
        return real_commit(self, tables_replace=tables_replace, **kwargs)

    monkeypatch.setattr(store_mod.SnapshotStore, "commit", recording_commit)
    run = CrawlRun(spark, str(tmp_path), ["RTX 4090"], wave_seconds=10.0)
    assert run.run_wave()
    seed_plan, wave_plan = pending_plans
    assert "InMemoryRelation" in wave_plan
    assert "Window" not in wave_plan, wave_plan


def test_invalidate_commit_runs_one_filter_pass(spark, tmp_path, monkeypatch):
    """invalidate()'s commit holds one filter cogroup, in its bloom frame,
    and leaves the seen table alone: the hits re-enqueue without a probe
    or an anti-join, and the cuckoo delete and re-insert share one pass."""
    import price_crawler_spark.sources.store as store_mod
    from price_crawler_spark.frontier.wave import CrawlRun

    run = CrawlRun(
        spark, str(tmp_path), ["RTX 4090"], wave_seconds=10.0, seen_filter="cuckoo"
    )
    assert run.run_wave()
    target = run.documents().first()["doc_id"]

    real_commit = store_mod.SnapshotStore.commit
    commits = []

    def recording_commit(self, tables_replace=None, tables_append=None, **kwargs):
        frames = {**(tables_replace or {}), **(tables_append or {})}
        commits.append({
            name: _nodes_outside_cache(df).count("FlatMapCoGroupsInPandas")
            for name, df in frames.items()
        })
        return real_commit(
            self, tables_replace=tables_replace, tables_append=tables_append, **kwargs
        )

    monkeypatch.setattr(store_mod.SnapshotStore, "commit", recording_commit)
    assert run.invalidate([target]) == 1
    (cogroups,) = commits
    assert "seen" not in cogroups, cogroups
    assert cogroups.pop("bloom") == 1
    assert sum(cogroups.values()) == 0, cogroups
