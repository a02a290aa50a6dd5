"""Physical-plan assertions — the 100 TB design rules made executable.

Correctness tests prove WHAT each operator computes; these prove HOW Spark
will execute it: filters reach the parquet scan, projections prune columns,
small sides broadcast, big sides never sort-merge or cartesian, CPU-bound
text stages parallelize. A regression here is a silent 100x at scale even
though every value stays correct (SURVEY §4 physical design rules).
"""

from __future__ import annotations

import re

import pytest

from s4hanaconnector_spark.queries import load_all


def plan_of(spark, sf_dir, name: str) -> str:
    reg = load_all()
    df = reg[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_initial_load_filter_pushdown(spark, sf_dir):
    """O16: initialloadwhere must reach the parquet scan as a data filter,
    not evaluate post-scan (at 100 TB this is the difference between reading
    one zone-map-pruned fraction and the full table)."""
    plan = plan_of(spark, sf_dir, "cdc_initial_load")
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(o_totalprice", plan), plan


def test_q1_column_pruning(spark, sf_dir):
    """E23: a 7-column aggregate over an 11-column table must not read the
    other 4 columns (ReadSchema is the scan's actual column set)."""
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    # plan toString truncates long lines (no closing '>'), so match to EOL
    schemas = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    assert schemas, plan
    for s in schemas:
        assert "l_partkey" not in s and "l_suppkey" not in s, s


def test_cdc_delta_broadcast_never_shuffles_source(spark, sf_dir):
    """E8 scale strategy: the delta side broadcasts; the snapshot side must
    never hit a sort-merge join (which would shuffle 100 TB)."""
    plan = plan_of(spark, sf_dir, "cdc_delta_broadcast")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _plan_nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, operator text) per line of a physical-plan tree string, in
    pre-order: a node's subtree is the run of following deeper lines."""
    nodes = []
    for line in plan.splitlines():
        text = line.lstrip(" :+-")
        if text:
            nodes.append((len(line) - len(text), text))
    return nodes


def test_cdc_delta_broadcast_probes_source_once(spark, sf_dir, tmp_path):
    """The broadcast delta scans the source ONCE, as the probe side of a
    left-semi join against the broadcast changed keys; no broadcast is
    built from a scan of the source, which would hash every source key on
    every poll."""
    from s4hanaconnector_spark.catalog import load_table
    from s4hanaconnector_spark.operators.cdc import cdc_delta
    from s4hanaconnector_spark.queries.cdc import HI, LO, ORDERS_MAPPING
    from s4hanaconnector_spark.sources.pklog import synthetic_pklog

    orders = load_table(spark, sf_dir, "orders")
    src_dir, log_dir = str(tmp_path / "snapshot"), str(tmp_path / "changelog")
    orders.write.parquet(src_dir)
    synthetic_pklog(orders).write.parquet(log_dir)
    df = cdc_delta(
        spark.read.parquet(src_dir), spark.read.parquet(log_dir),
        ORDERS_MAPPING, LO, HI, strategy="broadcast",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = _plan_nodes(plan)
    # scan locations are truncated in the plan string; the source is the
    # file whose read schema is orders' columns (the log's is pk1..pk6)
    def scans_source(t):
        return t.startswith("FileScan") and "ReadSchema: struct<o_" in t

    src_scans = [i for i, (_d, t) in enumerate(nodes) if scans_source(t)]
    full = [i for i in src_scans if "o_custkey" in nodes[i][1]]
    assert len(full) == 1, plan
    (scan,) = full

    def parent(i):
        return next(j for j in range(i - 1, -1, -1) if nodes[j][0] < nodes[i][0])

    j = parent(scan)
    while "Join" not in nodes[j][1]:
        j = parent(j)
    assert nodes[j][1].startswith("BroadcastHashJoin"), plan
    assert "LeftSemi, BuildRight" in nodes[j][1], plan

    for i, (depth, text) in enumerate(nodes):
        if not text.startswith("BroadcastExchange"):
            continue
        # the exchange's input down to its first join must not scan the
        # source: the build side is a join output or the change log
        for d, t in nodes[i + 1:]:
            if d <= depth or "Join" in t:
                break
            assert not scans_source(t), plan
    assert src_scans == full, plan  # the key column is not scanned apart
    assert "SortMergeJoin" not in plan, plan


def test_q3_small_dims_broadcast(spark, sf_dir):
    """E4: filtered customer/orders sides are broadcast, lineitem is joined
    without a sort-merge."""
    plan = plan_of(spark, sf_dir, "q3_shipping_priority")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_lsh_pairs_no_cartesian(spark, sf_dir):
    """E20 scale path: the bucketed self-join must be an equi-join on the
    bucket id — any nested-loop/cartesian means LSH pruning silently
    degraded to all-pairs."""
    for name in ["similarity_lsh_pairs", "dedup_embedding_cosine"]:
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_brute_force_broadcasts_queries(spark, sf_dir):
    """E20 baseline: the tiny query set broadcasts (nested-loop against the
    corpus is intended — one corpus pass, no shuffle); the corpus itself
    must never be the broadcast side."""
    plan = plan_of(spark, sf_dir, "similarity_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_shingle_stage_parallelized(spark, sf_dir):
    """The CPU-bound shingle/tokenize stage must run at cluster parallelism,
    not at the (small) parquet split count."""
    from s4hanaconnector_spark.operators.dedup import shingle_table
    from s4hanaconnector_spark.queries.llmops import docs_aug

    sh = shingle_table(docs_aug(spark, sf_dir), "text", "doc_id")
    assert (
        sh.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    )


def test_order_limit_is_take_ordered(spark, sf_dir):
    """E18: ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-
    partition top-n), never a global Sort."""
    plan = plan_of(spark, sf_dir, "cdc_order_limit")
    assert "TakeOrderedAndProject" in plan, plan


def test_latest_by_key_partial_aggregation(spark, sf_dir):
    """E5/O11: the per-PK max must run as partial (map-side) then final
    aggregation — two HashAggregates around one exchange — so the shuffle
    carries distinct keys, not the raw change feed."""
    plan = plan_of(spark, sf_dir, "cdc_latest_by_key")
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def test_quantile_outlier_threshold_broadcasts(spark, sf_dir):
    """E35: the one-row-per-group threshold table must broadcast into the
    probe join — a shuffle there would re-partition the full corpus to
    join against ~5 rows."""
    plan = plan_of(spark, sf_dir, "quantile_outlier_docs")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_decontamination_eval_side_broadcasts(spark, sf_dir):
    """E37: the eval-set shingle table is benchmark-sized; the train-side
    shingle table must probe it via broadcast, never co-shuffle."""
    plan = plan_of(spark, sf_dir, "decontaminate_train_set")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tfidf_has_no_idf_join(spark, sf_dir):
    """E39 (r12 shape): per-term document frequency is a count window over
    the (doc, term) tf table and idf evaluates per row, so the old
    idf-table hash join is GONE — the token explode runs once (one
    Generate) and the only join left is the 1-row corpus-stat broadcast
    cross. A hash or sort-merge join reappearing means the idf leg
    re-materialized as a second explode+aggregate subtree."""
    plan = plan_of(spark, sf_dir, "tfidf_retrieval")
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Generate") == 1, plan
    assert "Window" in plan, plan
    # the 1-row corpus-stat cross must stay a BROADCAST nested loop — an
    # unbroadcast CartesianProduct here is the 100x-at-scale regression
    # this suite exists to catch (ADVICE r12)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_q4_semi_join_with_date_pushdown(spark, sf_dir):
    """E45/Q4 shape: the orders date window must reach the parquet scan, and
    the EXISTS must plan as a semi join (one output row per order however
    many lineitems match)."""
    plan = plan_of(spark, sf_dir, "q4_late_shipment_priority")
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan), plan
    assert "LeftSemi" in plan, plan


def test_chunking_pipelines_without_exchange(spark, sf_dir):
    """E34: chunking is row-local — any Exchange means a pointless
    corpus-wide shuffle before a per-row explode."""
    plan = plan_of(spark, sf_dir, "chunk_documents")
    assert "Exchange" not in plan, plan


def test_zscore_moments_broadcast(spark, sf_dir):
    """E46: the per-group moment table (|langs| rows) broadcasts back into
    the probe; the documents scan must not shuffle."""
    plan = plan_of(spark, sf_dir, "feature_zscore")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_snapshot_as_of_never_sorts_baseline(spark, sf_dir):
    """E40: time travel must not sort-merge (shuffle) the baseline — the
    full-outer formulation would; the left+anti decomposition keeps every
    join broadcast."""
    plan = plan_of(spark, sf_dir, "cdc_snapshot_as_of")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_broadcast_if_small_guards_having_set_joins(spark, sf_dir):
    """The Q18 HAVING-set join uses the size-guarded broadcast hint: under
    the threshold the derived aggregate broadcasts; with the threshold
    forced to zero the hint is dropped (no broadcast of the derived set —
    AQE/SMJ territory) and the RESULT is unchanged either way."""
    from pyspark.sql import functions as F

    from s4hanaconnector_spark.operators.relational import broadcast_if_small
    from s4hanaconnector_spark.queries.registry import t

    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"))
        .filter(F.col("__q") > 150)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )

    hinted = o.join(broadcast_if_small(big), on="o_orderkey")
    plan_hinted = hinted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_hinted, plan_hinted

    # Forced-low guard threshold = "the estimate says too big". With the
    # hint dropped, the decision belongs to Spark: disable auto-broadcast
    # too (the 100 TB regime, where the true size exceeds every threshold)
    # and the join MUST degrade to a shuffle join instead of OOMing on a
    # forced broadcast — which is precisely what the unguarded F.broadcast
    # hint would have done.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        unhinted = o.join(broadcast_if_small(big, max_bytes=0), on="o_orderkey")
        plan_unhinted = unhinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_unhinted, plan_unhinted
        assert (
            "SortMergeJoin" in plan_unhinted or "ShuffledHashJoin" in plan_unhinted
        ), plan_unhinted
        rows_u = sorted(map(tuple, unhinted.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    rows_h = sorted(map(tuple, hinted.collect()))
    assert rows_h == rows_u


def test_nested_bo_maintenance_renest_is_delta_sized(spark, sf_dir):
    """VERDICT r3 #2 plan contract: the incremental BO maintenance must
    re-nest only delta-sized subsets — every join the rebuild leg performs
    against the big master/detail tables is a BROADCAST semi/anti join on
    the (delta-sized) affected-key sets, and nothing in the plan re-nests
    the full document table via a sort-merge join."""
    plan = plan_of(spark, sf_dir, "cdc_nested_bo_maintenance")
    # affected-key pruning joins: all broadcast, delta side on the build side
    assert "BroadcastHashJoin" in plan, plan
    semi_joins = len(re.findall(r"BroadcastHashJoin .*LeftSemi", plan))
    assert semi_joins >= 3, f"expected >=3 broadcast semi joins (master prune, detail prune, via-detail affected), got {semi_joins}\n{plan}"
    # the stale-doc removal is a broadcast anti join, not a shuffle
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """Scale contract: when a join is too big to broadcast (the 100 TB
    big x big case), Spark's runtime bloom filter must inject a
    might_contain row-prune on the probe side, built from the selective
    creation side — rows that cannot match die at the scan instead of
    riding the full shuffle. Local fixture sizes are below the default
    application-side threshold, so the test forces it to 0; on a cluster
    the defaults (10 GB creation cap) engage exactly on the joins that
    matter."""
    from pyspark.sql import functions as F

    from s4hanaconnector_spark.catalog import load_table

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        o = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        l = load_table(spark, sf_dir, "lineitem")
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        # and the filter is semantically free: same rows as the plain join
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )
        plain = l.join(o, l.l_orderkey == o.o_orderkey)
        assert j.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_app,
        )


def test_forget_cascade_broadcasts_the_delta(spark, sf_dir):
    """E112 plan contract: the right-to-be-forgotten cascade must expand
    via BROADCAST semi joins (the forget set is delta-sized) — the big
    tables are scanned once each and never shuffled."""
    import re

    import __spark_entry__ as entry

    df = entry.queries()["cdc_forget_cascade"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"BroadcastHashJoin .*LeftSemi", plan)) >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_incremental_dedup_never_shuffles_corpus(spark, sf_dir):
    """Incremental corpus dedup: the corpus side must meet the batch through
    broadcast hash joins only — a SortMergeJoin here would shuffle the
    full historical corpus on every ingest batch."""
    plan = plan_of(spark, sf_dir, "dedup_incremental_corpus")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_quantized_topk_broadcasts_queries(spark, sf_dir):
    """int8 similarity keeps the exact rung's shape: queries broadcast, the
    (quantized) corpus scans once and never shuffles before ranking."""
    plan = plan_of(spark, sf_dir, "similarity_topk_int8")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_incremental_neardup_cap_uses_count_not_collect_set(spark, sf_dir):
    """The hot-bucket cap must be a plain count window: size(collect_set(...))
    buffers every corpus id of the bucket in window state — on exactly the
    hot buckets the cap exists to shed (r4 VERDICT nit). The plan therefore
    must contain a window count and NO collect_set anywhere."""
    plan = plan_of(spark, sf_dir, "dedup_incremental_neardup")
    assert "collect_set" not in plan, plan
    assert re.search(r"windowspecdefinition", plan, re.IGNORECASE), plan


def _ivf_fixture(spark, sf_dir):
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return q, c


def _only_q_id_exchanges(plan: str) -> bool:
    """The only hash-partitioned exchange an IVF plan may hold is the final
    ranked window on q_id (|queries| x n_probe rows), never the corpus."""
    return all(
        "q_id" in line
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
    )


def test_ivf_literal_assignment_never_shuffles_corpus(spark, sf_dir):
    """At the 16 cells every declared query uses (the range a literal
    centroid array once covered), cell assignment is one numpy argmax per
    Arrow batch — a row-local mapInArrow with no join for the centroid
    table, no sort-merge or cartesian product — and the corpus never
    exchanges before the final ranked output on q_id. Past 64 cells the
    same kernel runs; there is no cell cap to refuse."""
    from pyspark.sql import functions as F

    from s4hanaconnector_spark.operators.similarity import ivf_topk

    q, c = _ivf_fixture(spark, sf_dir)
    df = ivf_topk(q, c, k=10, n_centroids=16, n_probe=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert _only_q_id_exchanges(plan), plan
    assert df.count() > 0

    many = c.filter(F.col("c_id") < 65).select(
        F.col("c_id").alias("cent_id"), "embedding"
    )
    assert ivf_topk(q, c, k=10, n_probe=4, centroids=many).count() > 0


def test_ivf_arrow_assignment_matches_expr_and_stays_rowlocal(spark, sf_dir):
    """The numpy-vectorized Arrow argmax adds no shuffle past 64 cells
    (80 here): mapInArrow is a row-local map, so the corpus still never
    exchanges before the final ranked output. Its rows match the exact
    expression reference: with n_probe > n_centroids every cell is probed
    — the assigner must narrow its slice to the cells there are, not raise
    a column-length mismatch inside mapInArrow — so ivf_topk must return
    brute_force_topk's rows."""
    from pyspark.sql import functions as F

    from s4hanaconnector_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    q, c = _ivf_fixture(spark, sf_dir)
    many = c.filter(F.col("c_id") < 80).select(
        F.col("c_id").alias("cent_id"), "embedding"
    )
    big = ivf_topk(q, c, k=10, n_probe=4, centroids=many)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert _only_q_id_exchanges(plan), plan
    assert big.count() > 0

    deg = ivf_topk(q, c, k=5, n_centroids=2, n_probe=4)
    exact = brute_force_topk(q, c, k=5)
    assert sorted(map(tuple, deg.collect())) == sorted(
        map(tuple, exact.collect())
    )


def _count_driver_jobs(monkeypatch) -> list:
    """Record every collect/take/count issued through the DataFrame API.
    Patches the CONCRETE class (pyspark 4 routes pyspark.sql.DataFrame's
    methods through the classic/connect subclass, so patching the base
    never fires); classic take(n) is limit(n).collect(), so the collect
    nested inside a counted take is not counted twice."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls: list[str] = []
    orig = {n: getattr(DataFrame, n) for n in ("collect", "take", "count")}
    depth = 0

    def counted(name):
        def wrapper(self, *a, **kw):
            nonlocal depth
            if depth == 0:
                calls.append(name)
            depth += 1
            try:
                return orig[name](self, *a, **kw)
            finally:
                depth -= 1

        return wrapper

    for name in orig:
        monkeypatch.setattr(DataFrame, name, counted(name))
    return calls


def test_ivf_auto_runs_one_centroid_job(spark, sf_dir, monkeypatch):
    """ivf_topk collects the (sqrt(N)-row) centroid table exactly ONCE and
    feeds the Arrow assigner from those rows — no separate sizing probe or
    count job, at 16 cells and at 80."""
    from pyspark.sql import functions as F

    from s4hanaconnector_spark.operators.similarity import ivf_topk

    q, c = _ivf_fixture(spark, sf_dir)
    many = (
        c.filter(F.col("c_id") < 80)
        .select(F.col("c_id").alias("cent_id"), "embedding")
        .localCheckpoint()
    )
    calls = _count_driver_jobs(monkeypatch)
    kw = dict(k=10, n_probe=4)
    ivf_topk(q, c, n_centroids=16, **kw)
    assert calls == ["collect"], calls
    calls.clear()
    ivf_topk(q, c, centroids=many, **kw)
    assert calls == ["collect"], calls


def test_build_ann_index_runs_one_centroid_job(spark, sf_dir, monkeypatch):
    """build_ann_index reads the centroid table to the driver once — no
    separate count job — and meta.json records the Arrow kernels."""
    import tempfile

    from pyspark.sql import functions as F

    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        pq_subspace_codebooks,
    )

    _, c = _ivf_fixture(spark, sf_dir)
    cbs = pq_subspace_codebooks(c, 16, 32)
    cents = (
        c.orderBy("c_id").limit(16)
        .select(F.col("c_id").alias("cent_id"), "embedding")
        .localCheckpoint()
    )
    calls = _count_driver_jobs(monkeypatch)
    meta = build_ann_index(
        c, tempfile.mkdtemp(prefix="ann_one_job_"), n_centroids=16,
        centroids=cents, codebooks=cbs,
    )
    assert calls == ["collect"], calls
    assert meta["assignment"] == "arrow" and meta["encode"] == "arrow", meta


def test_ivf_int8_rescore_plan_quantizes_candidates_only(spark, sf_dir):
    """The IVF×SQ8 composition must keep the plain IVF plan shape — zero
    corpus shuffle, broadcast probes — with the int8 encoding as one extra
    row-local projection on the CANDIDATE side (the probe/query side stays
    float: asymmetric distance)."""
    from pyspark.sql import functions as F

    from s4hanaconnector_spark.operators.similarity import ivf_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    df = ivf_topk(q, c, k=10, n_centroids=16, n_probe=4, rescore="int8")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    hash_ex = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert all("q_id" in line for line in hash_ex), hash_ex

    import pytest as _pytest

    with _pytest.raises(ValueError, match="rescore"):
        ivf_topk(q, c, rescore="float16")


def test_pq_rerank_plan_never_shuffles_corpus(spark, sf_dir):
    """PQ + rerank keeps the rung family's plan contract: encode + score
    are one row-local mapInArrow pass, the candidate set and queries ride
    broadcasts, and the only hash exchanges are the ranked windows on
    q_id — the corpus itself never exchanges on either of its two passes
    (codes scan, candidate fetch)."""
    from s4hanaconnector_spark.operators.similarity import pq_rerank_topk

    q, c = _ivf_fixture(spark, sf_dir)
    df = pq_rerank_topk(q, c, k=10, rerank=20, m=8, n_codes=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    assert _only_q_id_exchanges(plan), plan
    assert "MapInArrow" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_pq_lut_score_matches_adc_expr_and_stays_rowlocal(spark, sf_dir):
    """pq_topk's fused encode + lookup-table score must give exactly the
    rows of the shared ADC column expression (_pq_adc_cos — the scorer of
    the IVF×PQ rung and the index probe) applied to the same encoder's
    codes, and stay row-local (MapInArrow, no corpus exchange)."""
    from pyspark.sql import functions as F

    from s4hanaconnector_spark.operators import similarity as S

    q, c = _ivf_fixture(spark, sf_dir)
    cbs = S.pq_subspace_codebooks(c, m=16, n_codes=16)
    lut = S.pq_topk(q, c, k=20, codebooks=cbs)

    coded = S._arrow_pq_encode(
        c.withColumn("__cell", F.lit(0).cast("bigint")), "c_id", "embedding",
        cbs, 6,
    )
    qn = q.select(
        "q_id",
        F.col("embedding").alias("__qv"),
        S._norm(F.col("embedding")).alias("__qnorm"),
    )
    adc = S._rank_topk(
        coded.crossJoin(F.broadcast(qn))
        .crossJoin(F.broadcast(S._pq_cb_df(spark, cbs)))
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", S._pq_adc_cos(len(cbs[0][0]), 6).alias("cosine")),
        20, "q_id", "c_id",
    )
    assert sorted(map(tuple, lut.collect())) == sorted(map(tuple, adc.collect()))

    plan = lut._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    assert _only_q_id_exchanges(plan), plan


def test_semdedup_no_cartesian_and_rowlocal_assignment(spark, sf_dir):
    """SemDeDup: pairwise cosine must be confined to cells — a
    CartesianProduct/BNLJ here is the N² catastrophe the cells exist to
    prevent. Cell assignment is the row-local Arrow argmax (no join for
    the centroid table) and pairing runs per cell in Arrow."""
    plan = plan_of(spark, sf_dir, "dedup_semdedup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInArrow" in plan and "FlatMapGroupsInArrow" in plan, plan


def test_semdedup_indexed_no_cartesian(spark, sf_dir):
    """SemDeDup driven by the persisted index's centroid table: same
    within-cell-only pairing contract as the inline rung — no cartesian,
    no nested-loop join — with the centroids arriving from a parquet read
    instead of the prefix rule."""
    plan = plan_of(spark, sf_dir, "dedup_semdedup_indexed")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_semdedup_from_index_skips_assignment(spark, sf_dir):
    """semantic_dedup_from_index must go STRAIGHT to pairing: the plan
    reads the index's cell-partitioned vectors (``__cell`` is a partition
    column, no assignment kernel, no centroid scan) and hands each cell to
    the per-cell pairing kernel; its only join is the broadcast
    contraction. This is the measured amortization of the scale ladder's
    dedup_semdedup_from_index rung."""
    import tempfile

    from s4hanaconnector_spark.operators.dedup import semantic_dedup_from_index
    from s4hanaconnector_spark.operators.similarity import build_ann_index
    from s4hanaconnector_spark.queries.llmops import emb_aug

    from pyspark.sql import functions as F

    c = emb_aug(spark, sf_dir).select(F.col("vec_id"), "embedding")
    path = tempfile.mkdtemp(prefix="sem_from_index_plan_")
    build_ann_index(c, path, n_centroids=16, m=8, n_codes=16, c_id="vec_id")
    df = semantic_dedup_from_index(spark, path, threshold=0.95)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the quantizer never appears: no assignment MapInArrow and no
    # centroids/ scan; pairing is the per-cell FlatMapGroupsInArrow
    assert "FlatMapGroupsInArrow" in plan, plan
    assert "MapInArrow" not in plan.replace("FlatMapGroupsInArrow", ""), plan
    assert "centroids" not in plan, plan
    # the contraction must equal the inline operator's on the same corpus
    from s4hanaconnector_spark.operators.dedup import semantic_dedup

    inline = {
        tuple(r)
        for r in semantic_dedup(
            c, "vec_id", threshold=0.95, n_centroids=16
        ).collect()
    }
    indexed = {tuple(r) for r in df.collect()}
    assert indexed == inline and indexed


def test_incremental_semantic_corpus_never_shuffles(spark, sf_dir):
    """Incremental semantic dedup: the corpus leg is one MapInArrow pass
    over the corpus cell scan (the batch's per-cell vectors ride in its
    closure), so the corpus is never exchanged — the only hash exchanges
    fold the small per-batch-vector hit rows on batch_id. The batch-side
    joins are broadcast hash joins; a SortMergeJoin would shuffle the
    full accepted corpus every ingest."""
    plan = plan_of(spark, sf_dir, "dedup_semantic_incremental")
    assert "SortMergeJoin" not in plan, plan
    assert "MapInArrow" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    hash_ex = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert hash_ex and all("batch_id" in line for line in hash_ex), hash_ex


def test_ivf_pq_plan_corpus_single_pass_no_smj(spark, sf_dir):
    """IVFADC + refine: the corpus meets the probe table through a
    broadcast hash join on the cell id (probes are |Q| x n_probe rows), the
    codebook rides a 1-row broadcast, and the only hash exchanges are the
    two ranked windows on q_id — the corpus never exchanges on either pass
    (cells+codes scan, shortlist fetch)."""
    plan = plan_of(spark, sf_dir, "similarity_topk_ivf_pq")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    hash_ex = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert all("q_id" in line for line in hash_ex), hash_ex
    assert "BroadcastHashJoin" in plan, plan


def test_index_probe_prunes_cell_partitions(spark, sf_dir):
    """The persisted-index probe must resolve its cell restriction through
    PARTITION PRUNING — the probed cell ids appear as PartitionFilters on
    the cell-partitioned codes/vectors scans, so only 4-of-16 cells' files
    are listed or read (the on-disk inverted-list contract). A filter that
    lands post-scan instead would re-read the whole index every query."""
    plan = plan_of(spark, sf_dir, "similarity_index_probe")
    assert re.search(r"PartitionFilters: \[[^\]]*__cell", plan), plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_index_probe_with_tombstones_keeps_pruning(spark, sf_dir):
    """A LIVE tombstone log must not change the probe's plan class: the
    deleted-id exclusion is a BROADCAST anti-join layered on the already
    cell-pruned codes scan — PartitionFilters still restrict the file
    listing to the probed cells, and no sort-merge join or full-index
    rescan appears (at 100 TB an exclusion that defeated pruning would
    turn every delete into a whole-index probe tax)."""
    plan = plan_of(spark, sf_dir, "similarity_index_delete")
    assert re.search(r"PartitionFilters: \[[^\]]*__cell", plan), plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
