"""Round-16 pins: the driver-side train memos (BPE merges, PQ codebook,
ts20/ts25/pl21 model weights) must all be registered for per-rep clearing,
``reset_train_caches`` must actually drop them so a second bench rep
RE-TRAINS (r15 verdict integrity item 1 — the warm-up rep used to populate
the memos and the timed medians of ~11 queries excluded recurring
training), and bench.py's timed body must invoke the reset."""

from __future__ import annotations

import ast
import os

from tests.conftest import SF_SMALL
from xarray_sql_spark import registry as reg
from xarray_sql_spark.queries import REGISTRY, advanced_ops, bpe_tokenizer, pipeline_ops


def _executed_counts(df) -> dict[str, int]:
    """Node-name counts over the EXECUTED adaptive plan (collect first),
    recursing into query stages but not into ReusedExchange references —
    so the counts reflect what actually ran."""
    counts: dict[str, int] = {}

    def walk(node):
        name = node.getClass().getSimpleName()
        counts[name] = counts.get(name, 0) + 1
        if name == "ReusedExchangeExec":
            return  # references an already-counted subtree
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        if "QueryStageExec" in name:
            walk(node.plan())
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def test_dd10_single_scan_no_joins(spark):
    """r16: n_g packed into the collected doc key — the per-doc gram
    count joins (2 SortMergeJoins + 2 extra corpus scans) are gone."""
    df = REGISTRY["dd10_shared_span_pairs"].fn(spark, SF_SMALL)
    df.collect()
    c = _executed_counts(df)
    assert c.get("FileSourceScanExec", 0) == 1
    assert c.get("SortMergeJoinExec", 0) == 0
    assert c.get("BroadcastHashJoinExec", 0) == 0


def test_mm05_fingerprint_subtree_reused(spark):
    """r16: verify join-backs replaced by match counting; the band
    self-join's two identical sort subtrees collapse to ONE executed
    fingerprint scan via exchange reuse."""
    df = REGISTRY["mm05_phash_neardup"].fn(spark, SF_SMALL)
    df.collect()
    c = _executed_counts(df)
    assert c.get("ReusedExchangeExec", 0) >= 1
    assert c.get("FileSourceScanExec", 0) == 1  # executed once
    assert c.get("SortMergeJoinExec", 0) == 1  # the candidate self-join only


def test_pq_dtab_driver_matches_spark_job(spark):
    """r16: the 24-row ADC lookup job moved driver-side. Pin the driver
    fold + rounding bit-equal to the Spark-expression formulation it
    replaced, on both small SFs."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_MED

    trained = 0
    for sf_dir in (SF_SMALL, SF_MED):
        reg.reset_train_caches()
        v, cbf, dtab = advanced_ops._pq_train(spark, sf_dir)
        if cbf is None:
            continue
        trained += 1
        dt_rows = [
            (int(q), s, [float(x) for x in qe], int(j), cbf[(s, j)])
            for (q, s, j), _ in dtab.items()
            for qe in (
                [
                    r["emb"][
                        s * advanced_ops._PQ_SUBDIM:(s + 1)
                        * advanced_ops._PQ_SUBDIM
                    ]
                    for r in v.filter(F.col("vec_id") == q).collect()
                ][0],
            )
        ]
        dt_df = spark.createDataFrame(
            dt_rows,
            "query_id long, s int, qe array<double>, j long, ce array<double>",
        )
        spark_vals = {
            (r["query_id"], r["s"], r["j"]): r["d2"]
            for r in dt_df.select(
                "query_id", "s", "j",
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col("qe"), F.col("ce"),
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0.0),
                        lambda acc, z: acc + z,
                    ),
                    6,
                ).alias("d2"),
            ).collect()
        }
        assert spark_vals == dtab  # bit-exact, both SFs
    assert trained, "no SF produced a PQ codebook: the pin compared nothing"


def test_all_train_memos_registered():
    """Every module-level train memo is in TRAIN_CACHES (identity, not
    equality — clearing must hit the dict the query builders read)."""
    registered = {id(c) for c in reg.TRAIN_CACHES}
    for cache in (
        bpe_tokenizer._MERGES_CACHE,
        advanced_ops._PQ_TRAIN_CACHE,
        pipeline_ops._TS20_CACHE,
        pipeline_ops._TS25_CACHE,
        pipeline_ops._PL21_CACHE,
    ):
        assert id(cache) in registered
    assert len(reg.TRAIN_CACHES) >= 5


def test_second_rep_retrains_after_reset(spark):
    """Populate one memo by training, reset, and verify the next call
    re-trains (repopulates) rather than serving a stale secondary memo."""
    reg.reset_train_caches()
    assert not bpe_tokenizer._MERGES_CACHE
    merges1 = bpe_tokenizer.bpe_merges(spark, SF_SMALL)
    assert bpe_tokenizer._MERGES_CACHE, "training did not populate the memo"
    dropped = reg.reset_train_caches()
    assert dropped >= 1
    assert not bpe_tokenizer._MERGES_CACHE
    merges2 = bpe_tokenizer.bpe_merges(spark, SF_SMALL)
    assert bpe_tokenizer._MERGES_CACHE, "second rep did not re-train"
    assert merges1 == merges2  # deterministic training, identical results


def test_bench_timed_body_clears_train_memos():
    """bench.py's run_once (the body wrapped by every timed rep) must call
    reset_train_caches() BEFORE building the plan, so each rep pays full
    training cost."""
    bench_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
    )
    with open(bench_path) as f:
        tree = ast.parse(f.read())
    run_once_calls: list[str] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "run_once":
            for sub in ast.walk(node):
                if isinstance(sub, ast.Call):
                    fn = sub.func
                    name = getattr(fn, "id", getattr(fn, "attr", ""))
                    run_once_calls.append(name)
    assert "reset_train_caches" in run_once_calls
    # the reset precedes the plan build+execute (spec.fn -> ... .save())
    assert run_once_calls.index("reset_train_caches") < run_once_calls.index("save")
