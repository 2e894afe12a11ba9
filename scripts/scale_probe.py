#!/usr/bin/env python
"""sf0.1 -> sf1 scale probe for the heaviest operators.

Sub-second sf0.1 timings can hide super-linear behavior; this probe
materializes a 10x replica of the driver's sf0.1 parquet (ids shifted per
replica so key cardinalities scale with the data; document text perturbed
so dedup buckets don't degenerate into 10x exact-duplicate pile-ups) and
runs the heaviest queries at both scales with the same noop-sink timing
bench.py uses. Output: one JSON line with per-query medians at both
scales, the time ratio (10.0 = perfectly linear on a fully-parallel box;
< 10 is expected while the 32 cores are under-subscribed at sf0.1), and
the densest stage's task count as the parallelism signal.

Usage: python scripts/scale_probe.py  [SPARK_GRAFT_PROBE_REPS=3]
The replica is cached at /tmp/xss_sf1_synth; delete it to rebuild.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBE_QUERIES = ["q40_mode_percentile_disc", "ss05_kmeans_train",
                 "dd08_incremental_dedup", "ss04_ivf_ann", "q23_percentiles",
                 "ss08_knn_classify_ivf", "dd07_semantic_dedup",
                 "q41_recursive_cte_spine", "ts08_rare_trigram_score",
                 "pl08_sequence_packing", "ss09_pq_adc_topk",
                 "dd10_shared_span_pairs", "ss10_pq_rerank",
                 "ts10_unigram_surprisal", "ts11_bpe_pair_stats",
                 "ts12_memorization_score",
                 # events family (10x events over the same time range:
                 # windows densify, user count scales via the id shift)
                 "q46_range_frame", "ev12_funnel_conversion",
                 "ev15_transition_matrix", "ev11_user_value_quartiles",
                 "ev14_gap_fill", "ss11_mmr_diversify",
                 # round-7 wave 4: bigram LM (heaviest text op), VARIANT
                 # extraction, incremental-rollup merge, dataset card
                 "ts15_bigram_surprisal", "ev18_variant_props",
                 "ev19_incremental_rollup", "pl12_dataset_card",
                 # round-9 additions: expression-level sketches, span
                 # dedup (the no-pair-join linear claim), IVFxPQ serving
                 "hh02_hll_distinct", "hh03_countmin", "dd13_dup_token_spans",
                 "ss14_ivfpq_search",
                 # round-10 additions: BPE tokenizer apply (vocab-join
                 # shape — also feeds pl08's new counts), multi-probe LSH
                 "ts19_bpe_tokenize", "ss15_multiprobe_ann",
                 # round-12 additions: trained quality scorer (train pass
                 # + map-only fold), line dedup (min-struct key shuffle),
                 # URL provenance (two keyed aggs), signal stats decode
                 "ts20_quality_classifier", "dd15_line_dedup",
                 "pl17_url_provenance", "mm12_signal_stats",
                 # round-12 late wave: NFC pandas-UDF projection, KMV
                 # bounded k-min sketch + pair algebra, temperature
                 # sampling (lang-dim global ops + hash keep)
                 "ts21_unicode_normalize", "hh04_kmv_set_ops",
                 "pl19_temperature_sampling",
                 # epoch reshuffle: one (epoch, shard) shuffle + ordered
                 # per-shard fingerprint (the distributed-sort shape)
                 "pl20_epoch_shuffle",
                 # late-wave batch 2: hybrid RRF (two-leg rank fusion),
                 # PMI pairs (per-doc quadratic bound), watermark audit
                 # (two-phase prefix max), skew report (counts-of-counts),
                 # decayed heavy hitters (dyadic weights)
                 "ss16_hybrid_rrf", "ts22_pmi_collocations",
                 "ev23_watermark_audit", "sk05_skew_report",
                 "hh05_decayed_heavy_hitters",
                 # calibration + closed-form fit (both dimension-sized
                 # after one fact pass)
                 "ts23_langid_calibration", "ev24_retention_halflife",
                 # KN-smoothed bigram LM (ts15's join shape, KN math)
                 "ts24_kneser_ney_surprisal",
                 # DSIR importance selection (64-bucket models broadcast)
                 "pl21_dsir_selection",
                 # round-13 additions: license gate (broadcast policy
                 # dims over pl17's canonicalization), n-gram classifier
                 # (bigram-widened train pass + map-only fold), domain
                 # quality prior (score+domain in one projection, one
                 # domain-keyed rollup)
                 "pl22_license_gate", "ts25_ngram_classifier",
                 "ts26_domain_quality",
                 # perceptual image + audio dedup (decode->16-byte key->
                 # one keyed groupBy)
                 "mm13_image_phash_dedup", "mm14_audio_fingerprint_dedup",
                 # round-14: the five-stage composition DAG (license ->
                 # exact -> banded near-dup confirm -> tier -> mixing);
                 # the confirm join is bounded by <= N_BANDS claims/doc,
                 # so the whole chain must stay ~linear
                 "pl23_pipeline_e2e",
                 # round-15: two-pass decile calibration (run summaries
                 # + straddle-only second pass — histogram is grid-
                 # bounded, so the ratio must track the scan, not the
                 # sort the exact NTILE would pay)
                 "pl14b_quality_calibration_two_pass",
                 # round-16: band match-counting + exchange-reused
                 # fingerprint scan (the candidate join is the only
                 # pairwise stage left — the ratio tracks bucket sizes)
                 "mm05_phash_neardup"]
SRC_SF = "/root/testdata/sf0.1"
DST = "/tmp/xss_sf1_synth"
COPIES = 10
# every table the probe queries touch
TABLES = ("lineitem", "embeddings", "documents", "orders", "events")
# joined, never scanned at data scale: copied verbatim (see build_replica)
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")
ID_COLS = {"lineitem": ["l_orderkey"], "embeddings": ["vec_id"],
           "documents": ["doc_id"], "orders": ["o_orderkey"],
           "events": ["event_id", "user_id"]}


def build_replica(
    src: str = SRC_SF,
    dst_dir: str = DST,
    copies: int = COPIES,
    tables: tuple = TABLES,
    parts_per_table: int = 64,
) -> None:
    import json

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(dst_dir, exist_ok=True)
    # A cached replica is only valid for the parameters it was built with:
    # trusting any existing directory silently reuses a fixture with the
    # wrong copies/layout and the probe measures the wrong thing (ADVICE
    # r14). The manifest records the build params; mismatch → rebuild.
    manifest_path = os.path.join(dst_dir, "_replica_manifest.json")
    params = {"src": src, "copies": copies, "parts_per_table": parts_per_table}
    try:
        with open(manifest_path) as f:
            cached = json.load(f)
    except (OSError, ValueError):
        cached = None
    if cached != params:
        import shutil

        # dims too: they are copied only when absent, so a replica rebuilt
        # from another src would otherwise join against the old src's dims
        for name in tables + DIM_TABLES:
            stale = os.path.join(dst_dir, f"{name}.parquet")
            if os.path.isdir(stale):
                shutil.rmtree(stale)
            elif os.path.exists(stale):
                os.remove(stale)
    for name in tables:
        dst = os.path.join(dst_dir, f"{name}.parquet")
        if os.path.isdir(dst):
            continue
        if os.path.exists(dst):
            # pre-round-14 cache: a single-FILE replica whose layout caps
            # scan parallelism — the defect this builder exists to fix.
            # Rebuild rather than trust it (self-enforcing, review r14).
            os.remove(dst)
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        id_cols = ID_COLS[name]
        spans = {c: pc.max(t[c]).as_py() + 1 for c in id_cols}
        parts = []
        for i in range(copies):
            ti = t
            if i:
                for c in id_cols:
                    idx = ti.column_names.index(c)
                    shifted = pc.add(ti[c], i * spans[c])
                    ti = ti.set_column(idx, ti.schema.field(c), shifted)
                if name == "documents":
                    # perturb content so near-dup structure scales instead
                    # of becoming 10 exact copies of every doc
                    tix = ti.column_names.index("text")
                    txt = pc.binary_join_element_wise(ti["text"], f" r{i}", "")
                    ti = ti.set_column(tix, ti.schema.field("text"), txt)
            parts.append(ti)
        full = pa.concat_tables(parts)
        # Layout matters as much as content (r13 verdict): parquet cannot
        # split a row group across tasks, and Spark's openCost bin-packing
        # cannot split a small single FILE either — a single-file replica
        # capped ts25's 100x probe at 8 scan tasks, so the probe measured
        # fixture layout, not the plan. A directory of >=32 part files is
        # the layout that actually yields >=32 scan tasks at probe scale
        # (openCost padding makes each small part its own split). Written
        # to a tmp dir + atomic rename so a killed build never leaves a
        # half replica that the exists() cache check would trust.
        tmp = dst + ".tmp"
        if os.path.exists(tmp):
            import shutil

            shutil.rmtree(tmp)
        os.makedirs(tmp)
        step = max(1, -(-full.num_rows // parts_per_table))
        for j in range(parts_per_table):
            chunk = full.slice(j * step, step)
            if chunk.num_rows == 0:
                break
            pq.write_table(
                chunk, os.path.join(tmp, f"part-{j:05d}.parquet")
            )
        os.rename(tmp, dst)
    # Dimension tables ride along VERBATIM (1x): they are joined, never
    # scanned at data scale, and several probe-worthy queries (the
    # BASELINE q-spine) need them present. Copied, not scaled — dims grow
    # far slower than facts in any real warehouse.
    import shutil

    for name in DIM_TABLES:
        src_p = os.path.join(src, f"{name}.parquet")
        dst_p = os.path.join(dst_dir, f"{name}.parquet")
        if os.path.exists(src_p) and not os.path.exists(dst_p):
            shutil.copyfile(src_p, dst_p)
    with open(manifest_path, "w") as f:
        json.dump(params, f)


def main() -> None:
    build_replica()

    from xarray_sql_spark.queries import REGISTRY
    from xarray_sql_spark.session import get_spark

    spark = get_spark("xarray-sql-spark-scale-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "3"))
    st = spark.sparkContext.statusTracker()

    def densest(group: str) -> int:
        best = 0
        for jid in st.getJobIdsForGroup(group):
            job = st.getJobInfo(jid)
            for sid in job.stageIds if job else []:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    best = max(best, stage.numTasks)
        return best

    # CLI names subset the probe (new-operator spot checks); no args =
    # the full permanent sweep.
    names = sys.argv[1:] or PROBE_QUERIES
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"not in registry: {unknown}")
    results: dict[str, dict] = {}
    for name in names:
        spec = REGISTRY[name]
        row: dict[str, float | int] = {}
        for label, sf_dir in (("sf0.1", SRC_SF), ("sf1", DST)):
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.sparkContext._jvm.System.gc()
            group = f"probe:{name}:{label}"
            spark.sparkContext.setJobGroup(group, group)
            samples = []
            try:
                for _ in range(reps):
                    t0 = time.perf_counter()
                    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    samples.append(time.perf_counter() - t0)
            finally:
                spark.sparkContext.setJobGroup("", "")
            row[label] = round(statistics.median(samples), 3)
            row[f"{label}_tasks"] = densest(group)
        row["ratio"] = round(row["sf1"] / row["sf0.1"], 2)
        results[name] = row
        print(f"{name}: {row}", file=sys.stderr)
    print(json.dumps({"metric": "scale_probe_sf01_vs_sf1", "copies": COPIES,
                      "reps": reps, "queries": results}))


if __name__ == "__main__":
    main()
