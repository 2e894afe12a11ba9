"""Plan-level assertions: the physical plans must have the shapes the scale
design claims (reference asserts plans via EXPLAIN string-matching,
tests/test_stats.py:94-125 — here via queryExecution's executed plan).

These guard against silent regressions that correctness tests can't see:
a broadcast turning into a cartesian product, a filter failing to reach the
parquet scan, a sketch join degenerating to O(n^2)."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_MED
from xarray_sql_spark.queries import REGISTRY


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_MED)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_reaches_parquet_scan(spark):
    # (plan toString() truncates long lists — match within the line)
    plan = _plan(spark, "q02_filter_scan")
    m = re.search(r"PushedFilters: \[(.*)", plan)
    assert m and "l_shipdate" in m.group(1), plan


def test_projection_prunes_read_schema(spark):
    plan = _plan(spark, "q02_filter_scan")
    m = re.search(r"ReadSchema: struct<(.*)", plan)
    assert m, plan
    schema_txt = m.group(1)
    # the scan reads only what the query uses — unused payload columns
    # (comment, shipmode, shipinstruct...) must not appear
    assert "l_orderkey" in schema_txt
    for unused in ("l_comment", "l_shipmode", "l_shipinstruct", "l_partkey"):
        assert unused not in schema_txt, schema_txt


@pytest.mark.parametrize(
    "name",
    ["q03_top_revenue", "q12_interval_join", "q20_weighted_regrid", "sk02_salted_join"],
)
def test_small_side_broadcasts(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sketch_joins_are_equi_joins(spark):
    # The whole point of LSH banding: candidate generation must be a hash
    # join on the sketch key, never a nested-loop/cartesian pairing.
    for name in ["dd04_minhash_lsh", "dd05_simhash"]:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan), name


def test_lsh_ann_broadcasts_queries(spark):
    plan = _plan(spark, "ss03_lsh_ann")
    assert re.search(r"BroadcastHashJoin|ShuffledHashJoin", plan), plan


def test_range_join_broadcasts_tiny_side(spark):
    # Theta-join with a tiny build side: BroadcastNestedLoopJoin is the
    # right plan (reference test_stats.py CollectLeft parity).
    plan = _plan(spark, "q13_range_join")
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_aggregations_are_partial_final(spark):
    plan = _plan(spark, "q01_pricing_summary")
    # map-side combine then final merge: two HashAggregate levels
    assert plan.count("HashAggregate") >= 2, plan


def test_asof_join_is_single_exchange_window(spark):
    # q27's whole design: an as-of join as ONE shuffle on user_id feeding a
    # window — never a range join or per-row subquery re-execution.
    plan = _plan(spark, "q27_asof_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan
    # one exchange for the union'd stream (hashpartitioning on user_id);
    # AQE may add a read stage but not a second hash partitioning
    assert plan.count("hashpartitioning(user_id") <= 2, plan


def test_event_range_join_is_equi_join(spark):
    # ev05: the user_id equi-key must make this a hash/merge join with the
    # time range as residual condition, not a nested loop over pairs.
    plan = _plan(spark, "ev05_purchase_click_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan), plan


def test_decontamination_broadcasts_eval_set(spark):
    # pl03: the corpus must NOT shuffle by shingle — the eval shingle set
    # broadcasts and the probe is map-side.
    plan = _plan(spark, "pl03_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hash_split_has_no_shuffle_before_agg(spark):
    # pl02: the split assignment is scan-local; the only exchange in the
    # plan is the final tiny per-(lang, split) aggregate.
    plan = _plan(spark, "pl02_hash_split")
    assert plan.count("Exchange") <= 2, plan  # partial->final agg only


def test_runtime_bloom_filter_prunes_fact_side(spark):
    # The 100 TB lever the driver tables are too small to trigger naturally:
    # a selective dim-side filter injects a bloom filter (might_contain) into
    # the fact-side scan at runtime, dropping non-joining rows before the
    # shuffle. Thresholds are lowered to make the local fact side eligible —
    # on a real cluster the 10 GB default applies.
    from xarray_sql_spark.session import table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, SF_MED, "lineitem")
        o = table(spark, SF_MED, "orders").filter("o_totalprice > 400000")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_repetition_splits_once_and_parallelizes(spark):
    # ts05 (round-2 perf-weak): Catalyst's project-collapse + filter pushdown
    # used to re-inline split(text) 10x and the single-row-group parquet file
    # ran the whole query as 1 task. The fix computes the bigram sizes once
    # inside a Generate (lambda-bound, not alias-substitutable) after a
    # repartition. Pin both properties.
    df = REGISTRY["ts05_repetition"].fn(spark, SF_MED)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("split(") <= 2, optimized
    assert "Repartition" in optimized, optimized
    # filters stay above the Generate: the generated int columns are the
    # filter inputs, so no re-derivation of the heavy expression
    assert optimized.index("Filter") < optimized.index("Generate"), optimized


def test_warp_stencil_is_broadcast_hash_join(spark):
    """gq13: the bilinear stencil (O(dst cells x 4)) must broadcast and the
    source-grid join must be a hash equi-join on the integer cell key —
    never a nested loop over the raster. pl01-style inline barrier is not
    needed here, but a cartesian pairing would be O(raster x stencil)."""
    df = REGISTRY["gq13_grid_warp"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_training_mix_splits_text_once(spark):
    """pl01: the token split must survive optimization as a single
    expression (generator barrier) — the naive version re-inlined it into
    every size/filter consumer and ran 3x the text work per row."""
    df = REGISTRY["pl01_training_mix"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(text") == 1, plan.count("split(text")


def test_tfidf_single_tokenize_pass(spark):
    """ts04: document frequency aggregates the tf table, so the corpus is
    tokenized (exploded) exactly once in the optimized plan."""
    df = REGISTRY["ts04_tfidf_terms"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(text") == 1, plan.count("split(text")


def test_kmeans_assignments_broadcast_centroids(spark):
    """ss05: both Lloyd assignment joins must broadcast the centroid side
    (8 rows) — the data side streams; a shuffle or cartesian pairing of
    the vector table against centroids would not survive 100 TB."""
    df = REGISTRY["ss05_kmeans_train"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan.count("BroadcastNestedLoopJoin")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_lateral_topn_decorrelates(spark):
    """q37: Catalyst must rewrite the LATERAL ORDER BY/LIMIT subquery into
    a join + window (DecorrelateInnerQuery), NOT execute it as a per-row
    nested loop — at 100 TB the correlated re-scan would be O(n x m)."""
    df = REGISTRY["q37_lateral_topn"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" in plan, plan


def test_semantic_dedup_groups_by_cluster(spark):
    """dd07: seed assignment must be a narrow Arrow-batched map
    (MapInPandas, centroids in the closure — no per-(vector, seed) row
    explosion, no join at all), and the within-cluster pairwise check ONE
    vectorized group kernel per cluster (FlatMapGroupsInPandas after a
    single exchange on the cluster id). Any join or cartesian pairing
    here would not survive 100 TB."""
    df = REGISTRY["dd07_semantic_dedup"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Join" not in plan, plan  # assignment is join-free end to end


def test_sequence_packing_no_global_window(spark):
    """pl08: the per-source prefix-sum window and the (source, bin)
    aggregate share a hash exchange on source (co-locating every
    (source, bin) group); no global serial window — the
    SinglePartition shape a global cumsum would force. Since round 10
    the token counts ride the BPE vocabulary map, which adds keyed
    word exchanges for the count join/aggregates — every exchange must
    still be hashpartitioning on source, doc or word keys, never a
    serial collapse."""
    df = REGISTRY["pl08_sequence_packing"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    hashes = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert any("source" in l for l in hashes), plan
    for l in hashes:
        assert "word" in l or "source" in l or "doc_id" in l, l


def test_rare_trigram_counts_broadcast(spark):
    """ts08: the trigram count table (bounded by alphabet^3 at any corpus
    size) must broadcast back to the doc-trigram stream — the corpus-
    scale side never shuffles on the trigram key for the join."""
    df = REGISTRY["ts08_rare_trigram_score"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_mixture_quotas_single_partition_is_bounded(spark):
    """pl07: the corpus-scale work is one partial/final hash aggregate on
    source; the unpartitioned window may move only the |sources|-row
    aggregate to one partition (pl06's bounded-subtotal rule). The window
    must sit ABOVE the aggregate in the plan — never over raw rows."""
    df = REGISTRY["pl07_mixture_quotas"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan, plan
    # the single-partition exchange feeds the window, and its subtree
    # contains the aggregate (bounded rows), not the parquet scan directly
    seg = plan[plan.index("Window") :] if "Window" in plan else plan
    assert "HashAggregate" in seg, plan


def test_pii_redact_stays_jvm_side(spark):
    """ts07: regex counting/replacement must be whole-stage JVM work — a
    row-at-a-time Python UDF here would be the classic 10-100x slow
    path. No Python eval; the only exchanges are the output sort plus
    the layout-gated spread repartition (round-robin, r14: measured
    1.04 -> 0.55 s — it exists ONLY on single-row-group local testdata,
    so on real data the plan is sort-only). No hash exchange may appear
    before the sort: the redaction itself never shuffles."""
    df = REGISTRY["ts07_pii_redact"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    assert "MapInPandas" not in plan, plan
    assert plan.count("Exchange") <= 2, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan


def test_knn_ivf_candidates_are_equi_join(spark):
    """ss08: the full cross score is forbidden — candidates must come
    from a hash equi-join on the cell id. The only nested-loop join
    allowed is the 8-row centroid broadcast (no query_id in its
    condition); the query side must never BNLJ-pair with the corpus the
    way ss07's exact baseline intentionally does."""
    plan = _plan(spark, "ss08_knn_classify_ivf")
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan), plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "query_id" not in line, line  # only the centroid cross


def test_semantic_dedup_k_scales_with_corpus(spark):
    """dd07's scale claim as code: k = max(16, n // 256) keeps the TARGET
    cluster size constant, so the per-task gram matrix stays bounded as
    the corpus grows. Checks the k rule's growth and, on a synthetic
    corpus 4x the floor size, that the realized max cluster stays within
    a small multiple of the target (seeded — deterministic)."""
    import numpy as np

    from xarray_sql_spark.queries.advanced_ops import (
        semantic_cluster_assign,
        semantic_dedup_k,
    )

    # the rule itself: floor of 16, then linear growth
    assert semantic_dedup_k(500) == 16
    assert semantic_dedup_k(4096) == 16
    assert semantic_dedup_k(8192) == 32
    assert semantic_dedup_k(16384) == 64

    n, dim = 16384, 8
    k = semantic_dedup_k(n)
    rng = np.random.default_rng(42)
    X = rng.normal(size=(n, dim))
    pdf = {"vec_id": list(range(n)), "v": [row.tolist() for row in X]}
    import pandas as pd

    base = spark.createDataFrame(pd.DataFrame(pdf), "vec_id long, v array<double>")
    seed_rows = sorted(
        base.filter(f"vec_id < {k}").collect(), key=lambda r: r.vec_id
    )
    sizes = (
        semantic_cluster_assign(base, seed_rows)
        .groupBy("cluster")
        .count()
        .collect()
    )
    assert len(sizes) == k  # every seed attracts members on gaussian data
    max_size = max(r["count"] for r in sizes)
    # bounded: within a small multiple of the constant target (n/k = 256)
    assert max_size <= 4 * (n // k), max_size


def test_phash_neardup_is_band_bucketed(spark):
    """mm05: candidate generation must be an equi-join on
    (band_idx, band_value) — hash-partitionable, never a cross join —
    and the verify joins on doc ids stay hash joins. The empty-band
    mega-bucket is excluded before the join (a Filter on the exploded
    side), which is what keeps the buckets bounded at scale."""
    df = REGISTRY["mm05_phash_neardup"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate explode" in plan or "Generate posexplode" in plan, plan


def test_scd2_pit_join_is_equi_on_user(spark):
    """q38: the point-in-time join must hash/merge on the user_id equi
    key with the interval predicate as a post-join filter — never a
    nested loop over versions. The dimension build must be windows, not
    a self-join."""
    df = REGISTRY["q38_scd2_pit_join"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan
    # the duplicate-collapse lag() and validity lead() windows ride ONE
    # user_id exchange — a (user_id, ts)-keyed dedup window would add a
    # second full shuffle of the version stream
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_bucketed_range_join_is_equi_join(spark):
    """q39: the interval lookup must execute as an equi-join on the
    bucket id (hash-partitionable on both sides) with the exact range
    predicate as a post-join condition — the whole point of the bucket
    decomposition is avoiding the nested-loop range join that a plain
    BETWEEN predicate would force when neither side broadcasts."""
    df = REGISTRY["q39_bucketed_range_join"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan), plan


def test_weighted_sample_prefix_sum_is_distributed(spark):
    """pl06: the global running weight must be a distributed prefix sum —
    the data-scale cumsum window partitions by bucket, and the ONLY
    single-partition work is over the tiny bucket-subtotal rows. A global
    unpartitioned window over the documents themselves would serialize
    the whole corpus through one task at 100 TB."""
    df = REGISTRY["pl06_weighted_sample"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition(bucket" in plan, plan  # data cumsum: per-bucket
    assert plan.count("Exchange SinglePartition") <= 1, plan  # bucket rows only


def test_stratified_split_single_stratum_shuffle(spark):
    """pl05: rank and stratum count must share ONE exchange on the
    stratum key (two window functions over the same partitioning), with
    no join and no second shuffle."""
    df = REGISTRY["pl05_stratified_split"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    hash_exchanges = re.findall(r"Exchange hashpartitioning", plan)
    assert len(hash_exchanges) == 1, plan


def test_incremental_dedup_is_index_equi_join(spark):
    """dd08: batch admission must be an equi-join on (band_idx,
    band_hash) against the index keys — hash-partitionable on both
    sides, no cartesian/nested-loop anywhere (the raw text never even
    reaches the join: only band keys do)."""
    df = REGISTRY["dd08_incremental_dedup"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan), plan


def test_mode_percentile_single_count_table_pass(spark):
    """q40: all three statistics must come off ONE derivation of the
    (flag, quantity) count table — one scan of the fact table, no join
    between median and mode branches."""
    df = REGISTRY["q40_mode_percentile_disc"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert len(re.findall(r"FileScan|Scan parquet", plan)) <= 1, plan


def test_entropy_counts_shuffle_not_text(spark):
    """ts06: the only aggregation keys are (doc_id, bigram) with
    map-side partial counts — the partial_count must appear below the
    exchange, and no pairwise joins exist."""
    df = REGISTRY["ts06_char_entropy"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan


def test_pure_scan_identity_guard(spark, tmp_path):
    """Purity alone must not select the coordinate fast path: a pure scan
    of an UNRELATED V2 relation (here: a second xgrid payload the session
    never registered) must fail the payload-identity check and fall back
    to collected axes, while the genuine registered scan passes."""
    import pickle

    import numpy as np

    from xarray_sql_spark.dataset import Dataset, Variable
    from xarray_sql_spark.plans.introspect import pure_scan_passthrough
    from xarray_sql_spark.sources.grid_source import FORMAT_NAME, make_payload
    from xarray_sql_spark.to_dataset import XarrayDataFrame
    from xarray_sql_spark.xr_session import XarraySession

    t = np.arange(6, dtype=np.int64)
    ds_a = Dataset({"v": Variable(("t",), t * 1.0)}, {"t": t})
    xs = XarraySession(spark)
    xs.from_dataset("ga", ds_a)
    genuine = xs.sql("SELECT t, v FROM ga")
    assert genuine._pure_scan_of("ga")

    # an unrelated grid payload, never registered with xs
    other = Dataset({"w": Variable(("t",), t * 2.0)}, {"t": t})
    path = str(tmp_path / "other_payload.pkl")
    with open(path, "wb") as f:
        pickle.dump(make_payload(dataset=other), f)
    df2 = spark.read.format(FORMAT_NAME).option("payload", path).load()
    imposter = XarrayDataFrame(
        df2, genuine._registered, {}, genuine._payload_names
    )
    # df2 IS a pure scan — but not of dataset "ga"
    assert pure_scan_passthrough(df2) == (path, {"t", "w"})
    assert not imposter._pure_scan_of("ga")


def test_shared_span_pairs_no_gram_self_join(spark):
    """dd10: pair candidates must expand LOCALLY from per-gram doc
    lists (bounded combinations lambda), never via a self-join of the
    shingle stream on the gram key; the per-doc gram counts for the
    containment column come from a no-explode size() branch and join
    only the tiny pair output. The round-7 probe killed two rivals:
    the gram self-join (4.3x per 10x data) and a struct-carrying
    collect that avoided the count joins (~12x slower — struct-array
    sorting leaves the primitive fast path)."""
    df = REGISTRY["dd10_shared_span_pairs"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # One shingle Generate + one pair-combination Generate (the per-doc
    # count branch must NOT re-explode the shingles), and only the two
    # keyed n_g attachments join.
    assert len(re.findall(r"\bGenerate\b", plan)) == 2, plan
    joins = re.findall(r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan)
    assert len(joins) <= 2, plan


def test_memorization_score_gram_keys_are_bigint(spark):
    """ts12: the gram-frequency step must key on the 60-bit md5-prefix
    BIGINT, not the raw 8-gram string — shuffle rows carry 8-byte keys.
    Since the r15 optimization round the document-frequency count is a
    window over gh (one exchange+sort the old groupBy+sort-merge
    join-back paid anyway, without re-running the shingle explode for
    the freq side), so there must be NO join in the plan at all — which
    also removes the Catalyst broadcast trap (no stats under the shingle
    Generate once intermittently broadcast the whole exploded stream,
    stalling the driver 10-40 s at the sf1 probe)."""
    df = REGISTRY["ts12_memorization_score"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(gh#\d+L", plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "Join" not in plan, plan
    assert re.search(r"Window \[count\(1\)", plan), plan


def test_partitioned_layout_prunes_directories(spark):
    """io06: a filter on the hive partition column must become
    PartitionFilters at planning time (non-matching lang directories are
    never listed into the scan) and the scan must read zero data-file
    bytes for the pruned languages."""
    df = REGISTRY["io06_partitioned_prune"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan[:2000]
    # the write really produced a directory per language (5), of which the
    # partition filter admits exactly 2 — so pruning has something to skip
    import glob as _glob

    root = re.search(r"InMemoryFileIndex\(1 paths\)\[file:([^\]]+)\]", plan).group(1)
    langs = {p.rsplit("=", 1)[1] for p in _glob.glob(root + "/lang=*")}
    assert langs == {"en", "de", "es", "fr", "zh"}
    df.collect()


def test_cdc_latest_state_single_exchange(spark):
    """ev17: the rank-and-keep-latest shape needs exactly one exchange
    (hash on user_id) before the final tiny rollup."""
    df = REGISTRY["ev17_cdc_latest_state"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = plan.count("Exchange hashpartitioning")
    assert n_ex <= 2, f"expected window + rollup exchanges only, got {n_ex}:\n{plan[:2000]}"


def test_rag_chunking_is_scan_local(spark):
    """pl11: chunk explosion must happen scan-side — no exchange below
    the per-lang aggregate's partial/final pair, and no Python UDF."""
    df = REGISTRY["pl11_rag_chunking"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2, plan[:2000]
