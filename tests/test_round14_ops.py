"""Round-14 pins: the pl23 end-to-end composition plan/semantics and
qs01's sketch-guided exact selection edge cases."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_MED
from xarray_sql_spark.queries import REGISTRY


def _executed_scan_rows(df, table_path_fragment: str) -> tuple[int, int]:
    """(distinct executed scan nodes, total rows they emitted) for scans
    of the given table in an already-collected DataFrame's final
    adaptive plan. Reused query stages share one node, so a subtree
    that AQE deduplicated counts once — this measures what RAN, not
    what the static plan printed."""
    seen = {}

    def walk(node):
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name or "BatchScan" in name:
            if table_path_fragment in node.toString():
                seen[node.id()] = node
        for i in range(node.children().size()):
            walk(node.children().apply(i))
        if "QueryStageExec" in name:
            walk(node.plan())
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())

    walk(df._jdf.queryExecution().executedPlan())
    total = 0
    for node in seen.values():
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numOutputRows":
                total += int(kv._2().value())
    return len(seen), total


def test_pl23_composes_without_per_stage_rescans(spark):
    """The five chained stages (license gate -> exact dedup -> banded
    near-dup confirm -> domain tier -> mixing) must execute as ONE DAG:
    exactly one full pass over documents (band rows carry their doc's
    signature and the claimant's arrives as first_value, so no confirm
    join re-reads anything), no cartesian product, and at least one
    ReusedExchange (the mixing branch reuses the survivor pipeline
    instead of replaying it)."""
    df = REGISTRY["pl23_pipeline_e2e"].fn(spark, SF_MED)
    df.collect()
    n_docs = spark.read.parquet(f"{SF_MED}/documents.parquet").count()
    n_scans, rows = _executed_scan_rows(df, "documents")
    assert n_scans == 1, f"{n_scans} distinct document scans executed"
    assert rows <= n_docs, (rows, n_docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("ReusedExchange") >= 1, "no exchange reuse — stages replay"


def test_pl23_gate_semantics(spark):
    """Output-shape pins: only keep/sample tiers survive, the sample
    gate really samples (some sample-tier survivors AND some sample-tier
    casualties), and the funnel is monotone (survivor token mass below
    the allow-gate mass)."""
    out = REGISTRY["pl23_pipeline_e2e"].fn(spark, SF_MED).toPandas()
    assert len(out) > 0
    assert set(out["tier"]) == {"keep", "sample"}
    assert (out["n_docs"] > 0).all() and (out["tokens"] > 0).all()
    # the salted tier residue must not be the mixing residue in disguise:
    # with the same key material both gates would correlate perfectly
    from xarray_sql_spark.queries.pipeline_ops import _PL19_RES, _PL23_TIER_RES

    probe = spark.range(64).selectExpr(
        "id AS doc_id",
        f"{_PL23_TIER_RES[1]} AS tres",
        f"{_PL19_RES[1]} AS mres",
    ).toPandas()
    assert (probe["tres"] != probe["mres"]).any()


def test_pl23_sample_tier_actually_samples(spark):
    """The 50% residue gate on the 'sample' tier must drop SOME
    sample-tier docs and keep others — a gate that keeps or kills the
    whole tier silently degenerates into keep/drop."""
    from xarray_sql_spark.queries.pipeline_ops import _pl23_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_MED}/documents.parquet')"
    )
    o = _pl23_oracle()
    body = o[: o.rindex("SELECT domain, max(tier)")]
    tiers = con.execute(
        body
        + "SELECT tier, count(*) AS n FROM tiered WHERE tier = 'sample'"
        " GROUP BY tier"
    ).df()
    surv = con.execute(
        body + "SELECT count(*) FROM surv WHERE tier = 'sample'"
    ).fetchone()[0]
    n_sample = int(tiers["n"].iloc[0]) if len(tiers) else 0
    assert n_sample > 0, "fixture degenerate: no sample-tier docs at sf0.01"
    assert 0 < surv < n_sample, (surv, n_sample)


def test_qs01_integer_rank_edge(spark, tmp_path):
    """Sketch-guided selection with h = 1 + (n-1)q landing EXACTLY on an
    integer rank (floor == ceil): n=101 makes all three quantiles hit
    integer ranks, so v1 == v2 must come from the single candidate row
    and the interpolation term vanish. Values are pinned against
    DuckDB's quantile_cont on the same data."""
    sf = str(tmp_path)
    spark.range(101).selectExpr(
        "CAST(1000 + id * 7 AS DOUBLE) AS l_extendedprice"
    ).coalesce(1).write.parquet(f"{sf}/lineitem.parquet")
    got = (
        REGISTRY["qs01_quantile_sketch"]
        .fn(spark, sf)
        .toPandas()
        .sort_values("q")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    want = con.execute(
        "SELECT unnest([0.5, 0.9, 0.99]) AS q,"
        " unnest(quantile_cont(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)::DOUBLE,"
        " [0.5, 0.9, 0.99])) AS exact_v"
        f" FROM read_parquet('{sf}/lineitem.parquet/*.parquet')"
    ).df()
    assert len(got) == 3
    for i in range(3):
        assert got["exact_v"][i] == pytest.approx(want["exact_v"][i], abs=1e-6)
        assert got["n_rows"][i] == 101


def test_build_replica_layout_gives_wide_scans(tmp_path):
    """The probe replica builder must produce multi-part directories —
    parquet can't split a row group and Spark's openCost bin-packing
    can't split a small single file, so a single-file replica caps
    probe scans at a handful of tasks and the ratios measure fixture
    layout instead of plans (r13 verdict item 2). Also pins the id
    shift (key cardinality scales with copies), the near-dup text
    perturbation, and that a half-built replica is never left behind
    (tmp dir + atomic rename)."""
    import glob
    import os

    import pyarrow.parquet as pq

    from scripts.scale_probe import build_replica

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "replica")
    build_replica(src, dst, copies=2, tables=("documents",), parts_per_table=8)
    tdir = os.path.join(dst, "documents.parquet")
    assert os.path.isdir(tdir)
    assert not os.path.exists(tdir + ".tmp")
    parts = sorted(glob.glob(os.path.join(tdir, "*.parquet")))
    assert len(parts) == 8
    base = pq.read_table(os.path.join(src, "documents.parquet"))
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    assert rows == 2 * base.num_rows
    import pyarrow.compute as pc

    import pyarrow.parquet as pq2

    full = pq2.ParquetDataset(tdir).read()
    span = pc.max(base["doc_id"]).as_py() + 1
    assert pc.max(full["doc_id"]).as_py() == pc.max(base["doc_id"]).as_py() + span
    # copy 1's text is perturbed so near-dup buckets scale instead of
    # degenerating into exact-duplicate pile-ups
    texts = set(full["text"].to_pylist())
    assert any(t.endswith(" r1") for t in texts)
    # idempotent: a second call sees the directory and leaves it alone
    m0 = os.stat(parts[0]).st_mtime_ns
    build_replica(src, dst, copies=2, tables=("documents",), parts_per_table=8)
    assert os.stat(parts[0]).st_mtime_ns == m0
    # rebuilt from another src, the verbatim dimension tables follow it:
    # stale dims would silently join the probe against the old src
    import filecmp

    from tests.conftest import SF_MED

    dim = "customer.parquet"
    assert filecmp.cmp(os.path.join(dst, dim), os.path.join(src, dim), shallow=False)
    build_replica(SF_MED, dst, copies=2, tables=("documents",), parts_per_table=8)
    assert filecmp.cmp(os.path.join(dst, dim), os.path.join(SF_MED, dim), shallow=False)
    assert not filecmp.cmp(os.path.join(src, dim), os.path.join(SF_MED, dim), shallow=False)
