"""Physical-plan regression tests: pushdown, pruning, broadcast, codegen,
and shuffle budgets for the load-bearing operators (SURVEY §4)."""

import re

import pytest
from pyspark.sql import functions as F

from crawler_service_spark.operators.politeness import schedule_round
from crawler_service_spark.plans import (
    count_exchanges,
    explain_str,
    has_broadcast_hash_join,
    pushed_filters,
    read_schema_columns,
    uses_whole_stage_codegen,
)

SF_DIR = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderkey") > 100)
        .select("o_orderkey")
    )
    pushed = pushed_filters(df)
    assert any("o_orderkey" in p for p in pushed), pushed


def test_projection_pruned_to_read_schema(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    schemas = read_schema_columns(df)
    assert schemas and set(schemas[0]) == {"l_orderkey", "l_quantity"}, schemas


def test_policy_join_broadcasts(spark):
    from crawler_service_spark.queries import q_j2_policy_join

    assert has_broadcast_hash_join(q_j2_policy_join(spark, SF_DIR))


def test_tpch_q1_stays_in_codegen(spark):
    from crawler_service_spark.queries import q_tpch_q1_pricing

    df = q_tpch_q1_pricing(spark, SF_DIR)
    assert uses_whole_stage_codegen(lambda: q_tpch_q1_pricing(spark, SF_DIR))
    # one shuffle for the groupBy, nothing else
    assert count_exchanges(df) == 1, explain_str(df)


def test_skew_safe_schedule_shuffle_budget(spark):
    # one hot host spread over several salt buckets: the salted rank is
    # ONE query — the local window's payload exchange, a partially
    # aggregated per-bucket count exchange, a tiny exchange for the
    # offsets cumsum, and ONE broadcast join of the offsets back (no
    # driver collect, no literal rebuild, no shuffled join)
    hot = spark.range(3000).select(
        F.when(F.col("id") < 2000, "hot").otherwise(
            F.concat(F.lit("h"), (F.col("id") % 7).cast("string"))).alias("host"),
        F.lit(0).alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    admitted, _ = schedule_round(hot, None, skew_safe=True, shuffle_partitions=8,
                                 salt_width=500)
    plan = explain_str(admitted)
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 1, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert count_exchanges(admitted) <= 3, plan


def test_anti_join_seen_is_exact_anti(spark):
    from crawler_service_spark.operators.dedup import anti_join_seen

    batch = spark.range(1000).select(F.concat(F.lit("u"), "id").alias("canon_url"))
    seen = spark.range(500).select(F.concat(F.lit("u"), (F.col("id") * 2)).alias("canon_url"))
    out = anti_join_seen(batch, seen, ["canon_url"])
    assert "LeftAnti" in explain_str(out)
    assert out.count() == 500


@pytest.fixture
def broadcast_threshold(spark):
    """Sets the session's broadcast threshold for one test, then restores it."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    yield lambda v: spark.conf.set(key, v)
    spark.conf.set(key, old)


def _probe_inputs(spark, tmp_path):
    """A deduped engine-shaped batch (with ``_kh``) and a parquet seen
    scan holding every other batch key plus keys the batch lacks."""
    from crawler_service_spark.operators.dedup import first_occurrence

    batch = spark.range(2000).select(
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("task_id"),
        F.concat(F.lit("https://h.example.com/p/"),
                 (F.col("id") % 1500).cast("string")).alias("canon_url"),
        F.col("id").alias("parent_seq"),
        F.lit(0).alias("link_pos"),
    )
    batch = first_occurrence(batch, ["task_id", "canon_url"],
                             ["parent_seq", "link_pos"], keep_hash=True)
    path = str(tmp_path / "seen")
    spark.range(0, 4000, 2).select(
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("task_id"),
        F.concat(F.lit("https://h.example.com/p/"),
                 F.col("id").cast("string")).alias("canon_url"),
    ).write.parquet(path)
    return batch, spark.read.parquet(path)


def _plan_nodes(df):
    """``(node, ancestors)`` for every node of the pre-execution
    physical plan (the adaptive plan's input plan)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    out = []

    def walk(node, ancestors):
        out.append((node, ancestors))
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), ancestors + [node])

    walk(plan, [])
    return out


def _subtree_names(node):
    names = [node.nodeName()]
    kids = node.children()
    for i in range(kids.size()):
        names += _subtree_names(kids.apply(i))
    return names


def _is_join(node, kind, join_type):
    return node.nodeName() == kind and node.joinType().toString() == join_type


def _fitted_bloom(spark, seen):
    from crawler_service_spark.operators.dedup import ShardedBloomFilter

    key = F.concat_ws("\x01", "task_id", "canon_url").alias("k")
    return ShardedBloomFilter(spark, num_bits=1 << 12, n_shards=4).fit(
        seen.select(key), "k")


def test_large_seen_probe_plan_shape(spark, tmp_path, broadcast_threshold):
    """Past the large-seen line with a batch that fits a broadcast: the
    seen scan feeds a map-side LeftSemi join whose build side is the
    materialized batch's keys, no shuffle sits above the seen scan, and
    the batch is anti-joined against the hits with a broadcast join. A
    fitted bloom is not consulted."""
    from crawler_service_spark.operators.dedup import anti_join_seen

    broadcast_threshold("10MB")
    batch, seen = _probe_inputs(spark, tmp_path)
    out = anti_join_seen(batch, seen, ["task_id", "canon_url"],
                         bloom=_fitted_bloom(spark, seen),
                         shuffle_hash=True, hash_key=True)
    nodes = _plan_nodes(out)
    scans = [(n, up) for n, up in nodes
             if n.nodeName().startswith("Scan parquet")]
    assert len(scans) == 1, explain_str(out)
    scan, above = scans[0]
    assert not any(a.nodeName() == "Exchange" for a in above), explain_str(out)
    semi = [a for a in above if _is_join(a, "BroadcastHashJoin", "LeftSemi")]
    assert len(semi) == 1, explain_str(out)
    semi = semi[0]
    assert semi.buildSide().toString() == "BuildRight"
    # the build side is the checkpointed batch (its keys), not the seen scan
    build = _subtree_names(semi.right())
    assert "Scan ExistingRDD" in build and not any(
        n.startswith("Scan parquet") for n in build), build
    anti = [n for n, _ in nodes
            if _is_join(n, "BroadcastHashJoin", "LeftAnti")]
    assert len(anti) == 1, explain_str(out)
    assert "BroadcastHashJoin" in _subtree_names(anti[0].right())
    assert count_exchanges(out) == 0, explain_str(out)
    assert "_maybe_seen" not in explain_str(out)


def test_large_seen_fallback_is_hash_built(spark, tmp_path,
                                           broadcast_threshold):
    """A batch over the broadcast threshold falls back to hash-building
    the seen side, with no bloom probe even when a filter is passed."""
    from crawler_service_spark.operators.dedup import anti_join_seen

    broadcast_threshold("1024")
    batch, seen = _probe_inputs(spark, tmp_path)
    out = anti_join_seen(batch, seen, ["task_id", "canon_url"],
                         bloom=_fitted_bloom(spark, seen),
                         shuffle_hash=True, hash_key=True)
    plan = explain_str(out)
    assert "ShuffledHashJoin LeftAnti" in plan, plan
    assert "BroadcastHashJoin" not in plan and "LeftSemi" not in plan, plan
    assert "_maybe_seen" not in plan and "_sb_shard" not in plan, plan


def _rows(df):
    cols = sorted(df.columns)
    return sorted((tuple(r[c] for c in cols) for r in df.collect()),
                  key=repr)


@pytest.mark.parametrize("threshold,shape", [
    ("10MB", "BroadcastHashJoin LeftSemi"),
    ("100", "ShuffledHashJoin LeftAnti"),
], ids=["probe", "fallback"])
@pytest.mark.parametrize("hash_key", [False, True])
def test_large_seen_anti_join_is_exact(spark, broadcast_threshold,
                                       threshold, shape, hash_key):
    """Both large-seen plans equal a plain ``left_anti``: NULL keys on
    either side never match, duplicate seen rows drop a batch row once,
    payload columns survive, and a batch carrying its own ``_kh`` (with
    no provenance) and ``word`` columns is handled."""
    from crawler_service_spark.operators.dedup import anti_join_seen

    broadcast_threshold(threshold)
    keys = ["task_id", "canon_url"]
    batch = spark.createDataFrame(
        [("t1", "u1", 1, "a", 10), ("t1", "u2", 2, "b", 11),
         ("t2", "u1", 3, "c", 12), (None, "u3", 4, "d", 13),
         ("t1", None, 5, "e", 14), ("t2", "u4", 6, None, 15),
         ("t3", "u5", 7, "f", 16)],
        "task_id string, canon_url string, parent_seq long, word string, "
        "_kh long")
    seen = spark.createDataFrame(
        [("t1", "u1"), ("t1", "u1"), ("t1", "u1"), ("t2", "u4"),
         (None, "u3"), ("t1", None), (None, None), ("t9", "u9")],
        "task_id string, canon_url string")
    want = batch.join(seen, keys, "left_anti")
    out = anti_join_seen(batch, seen, keys, shuffle_hash=True,
                         hash_key=hash_key)
    assert shape in explain_str(out)
    if hash_key:
        want = want.drop("_kh")
    assert sorted(out.columns) == sorted(want.columns)
    assert _rows(out) == _rows(want)
    # the rows that survive: the null-keyed ones, and the keys never seen
    assert sorted(r["parent_seq"] for r in out.collect()) == [2, 3, 4, 5, 7]


def test_minhash_signature_hashes_each_shingle_once(spark):
    """T2 MinHash: one md5 per shingle, digest sliced into lanes — the
    optimized plan must carry exactly ONE md5 node (CollapseProject must
    not inline the shared hash array into the four array_min consumers)
    and the map must stay shuffle-free."""
    from crawler_service_spark.queries import q_dedup_minhash_sig

    df = q_dedup_minhash_sig(spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("md5") == 1, optimized
    assert count_exchanges(df) == 0, explain_str(df)


# ---------------------------------------------------------------- URL pass
def _python_stages(df):
    """The ``ArrowEvalPython`` nodes of ``df``'s pre-execution plan."""
    return [n for n, _ in _plan_nodes(df) if n.nodeName() == "ArrowEvalPython"]


def _over_ineligible_only(stage):
    """True when a filter on NOT `native_canon_eligible` sits below the
    Python stage, so only ineligible rows reach it."""
    def filters(node):
        out = [node] if node.nodeName() == "Filter" else []
        kids = node.children()
        for i in range(kids.size()):
            out += filters(kids.apply(i))
        return out

    negated = re.compile(r"NOT (coalesce\()?RLIKE\(.*\[\\x21-\\x7E&&")
    return any(negated.search(f.condition().toString())
               for f in filters(stage))


def _clean_links(spark, n=200):
    """Engine-shaped link candidates whose URLs are all native-eligible."""
    return spark.range(n).select(
        F.concat(F.lit("t"), (F.col("id") % 2).cast("string")).alias("task_id"),
        F.lit("h.example.com").alias("seed_netloc"),
        F.expr("id DIV 8").alias("parent_seq"),
        F.lit(1).alias("depth"),
        (F.col("id") % 8).cast("int").alias("link_pos"),
        F.concat(F.lit("https://h.example.com/p/"),
                 (F.col("id") % 150).cast("string")).alias("url"),
    )


def test_filter_internal_plans_one_python_stage(spark):
    """Given no count of ineligible links, the link filter plans one
    Python stage even on an all-eligible batch, in its ineligible branch
    (the UDF's fields feed both the keep filter and the projection
    without a second call)."""
    from crawler_service_spark.config import CrawlConfig
    from crawler_service_spark.operators.links import filter_internal

    out = filter_internal(_clean_links(spark), CrawlConfig())
    stages = _python_stages(out)
    assert len(stages) == 1, explain_str(out)
    assert _over_ineligible_only(stages[0]), explain_str(out)
    assert {"canon_url", "host", "path"} <= set(out.columns)


def _evaluates_the_url_pass_udf(stage):
    """True when the Python stage evaluates exactly the URL pass's one
    UDF, whose output is `URL_PASS_COLS`."""
    from crawler_service_spark.functions.urls import URL_PASS_COLS

    udfs = stage.udfs()
    return udfs.size() == 1 and list(
        udfs.apply(0).dataType().fieldNames()) == URL_PASS_COLS


@pytest.mark.parametrize("call", ["canonicalize_frame", "host_frame"])
def test_nulled_url_calls_plan_one_python_stage(spark, call):
    """`canonicalize_frame` and `host_frame` over a raw URL keep their
    single-scan plan: one Python stage, evaluating the URL pass's UDF,
    and no Union (the plan shape perfbench's frontier workload runs)."""
    from crawler_service_spark.functions.urls import (
        canonicalize_frame,
        host_frame,
    )

    links = _clean_links(spark)
    out = (canonicalize_frame(links, "url") if call == "canonicalize_frame"
           else host_frame(links, "url"))
    stages = _python_stages(out)
    assert len(stages) == 1, explain_str(out)
    assert _evaluates_the_url_pass_udf(stages[0]), explain_str(out)
    assert "Union" not in {n.nodeName() for n, _ in _plan_nodes(out)}, \
        explain_str(out)


def test_hybrid_canonicalize_entry_plans_the_split_url_pass(spark):
    """The registry's hybrid P1 runs `url_pass`: a Union of the native
    branch and one Python stage over the ineligible rows only."""
    from crawler_service_spark.queries import q_p1_canonicalize_hybrid

    out = q_p1_canonicalize_hybrid(spark, SF_DIR)
    stages = _python_stages(out)
    assert len(stages) == 1, explain_str(out)
    assert _evaluates_the_url_pass_udf(stages[0]), explain_str(out)
    assert _over_ineligible_only(stages[0]), explain_str(out)
    assert "Union" in {n.nodeName() for n, _ in _plan_nodes(out)}, \
        explain_str(out)


def _spy_dense_seq(monkeypatch):
    """Records each frame the engine hands to `assign_dense_seq` (the
    frame its checkpoint materializes)."""
    import crawler_service_spark.engine as engine

    seen, real = [], engine.assign_dense_seq

    def spy(df, *args, **kwargs):
        seen.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(engine, "assign_dense_seq", spy)
    return seen


@pytest.mark.parametrize("dirty", [False, True])
def test_engine_link_path_plans_python_only_for_ineligible_links(
        spark, tmp_path, monkeypatch, dirty):
    """expand_links → filter_internal → filter_robots → links_to_frontier,
    with the ineligible-link count the pages write observes: on
    all-eligible links no Python stage is planned anywhere; with one
    ineligible link, exactly one, before the dense-sequence checkpoint
    and over the ineligible rows only. After the checkpoint `host_frame`
    takes the host from canon_url natively."""
    import crawler_service_spark.engine as engine
    from crawler_service_spark.config import CrawlConfig
    from crawler_service_spark.operators.links import (
        expand_links,
        filter_internal,
        filter_robots,
        ineligible_links,
    )

    cfg = CrawlConfig(shuffle_partitions=4, seq_buckets=4)
    links = _clean_links(spark, 64)
    if dirty:
        links = links.unionByName(links.limit(1).withColumn(
            "url", F.lit("https://h.example.com/p/a%20b")))
    pages = links.groupBy("task_id", "seed_netloc").agg(
        F.min("parent_seq").alias("discovery_seq"),
        F.lit(0).alias("depth"),
        F.collect_list("url").alias("links"),
    )
    n_ineligible = pages.agg(ineligible_links()).first()[0]
    assert n_ineligible == int(dirty)
    policy = spark.createDataFrame(
        [("h.example.com", ["/p/1"])], "host string, disallow_prefixes array<string>")
    path = str(tmp_path / "seen")
    spark.createDataFrame([("t0", "https://h.example.com/p/2")],
                          "task_id string, canon_url string").write.parquet(path)
    checkpointed = _spy_dense_seq(monkeypatch)

    cand = filter_robots(
        filter_internal(expand_links(pages), cfg, n_ineligible), policy)
    out = engine.links_to_frontier(
        cand.drop("host", "path"), spark.read.parquet(path), cfg,
        seen_total=1, seq_base=100, seq_min=0)
    (pre,) = checkpointed
    stages = _python_stages(pre)
    assert len(stages) == int(dirty), explain_str(pre)
    assert all(_over_ineligible_only(s) for s in stages), explain_str(pre)
    assert _python_stages(out) == [], explain_str(out)
    assert out.count() > 0


@pytest.mark.parametrize("dirty", [False, True])
def test_seed_frontier_plans_python_only_for_ineligible_seeds(
        spark, tmp_path, monkeypatch, dirty):
    """The seed pass plans no Python stage over all-eligible seeds, and
    one, over the ineligible seeds only, when a seed is ineligible (the
    seed-count aggregate counts them). (The seeds are a computed frame:
    over a local one the optimizer folds the native branch into the
    scan and drops an empty Python branch altogether.)"""
    from crawler_service_spark.config import CrawlConfig
    from crawler_service_spark.engine import CrawlEngine
    from crawler_service_spark.sources.corpus import build_store_df

    engine = CrawlEngine(spark, CrawlConfig(), build_store_df(spark, 20, 2),
                         checkpoint_dir=str(tmp_path))
    seeds = spark.range(4).select(
        F.concat(F.lit("task"), F.col("id").cast("string")).alias("task_id"),
        F.concat(F.lit("https://h"), F.col("id").cast("string"),
                 F.lit(".example.com/page/0"),
                 # seed 3 percent-encoded: native-ineligible
                 F.when((F.col("id") == 3) & F.lit(dirty), F.lit("%20x"))
                 .otherwise(F.lit(""))).alias("url"),
        F.col("id").alias("seed_seq"),
    )
    checkpointed = _spy_dense_seq(monkeypatch)
    engine._initial_frontier(seeds)
    (pre,) = checkpointed
    stages = _python_stages(pre)
    assert len(stages) == int(dirty), explain_str(pre)
    assert all(_over_ineligible_only(s) for s in stages), explain_str(pre)
