"""Round-13 hardening: dd03/dd17 posting-list caps (planted mega-shingle),
plus regression anchors for this round's plan/bench changes.

The cap claim ("posting lists are capped at 100 TB") is now enforced in
code: a shingle shared by more than _DD_POSTING_CAP documents must be
dropped BEFORE the inverted-index self-join, so a boilerplate line shared
corpus-wide cannot create a quadratic join bucket. These tests plant
exactly that corpus shape and pin (a) the mega-shingle generates ZERO
pairs, (b) a legitimate shared span still pairs, with set sizes recomputed
over the capped shingle universe.
"""

from __future__ import annotations

import pytest

from xarray_sql_spark.queries import REGISTRY
from xarray_sql_spark.queries.pipeline_ops import _DD_POSTING_CAP
from tests.test_pipeline_semantics import _write_documents


def _mega_corpus(tmp_path):
    """70 docs (> cap=64) sharing exactly ONE 3-gram ('mega0 mega1 mega2')
    amid per-doc-unique filler, plus one legitimate near-dup pair sharing a
    6-word span (= 4 word-3-grams)."""
    assert _DD_POSTING_CAP < 70  # fixture must actually exceed the cap
    texts = [
        f"u{i}a u{i}b mega0 mega1 mega2 u{i}c u{i}d" for i in range(70)
    ]
    span = "s0 s1 s2 s3 s4 s5"
    doc_a = f"pa0 pa1 pa2 pa3 {span} pa4 pa5 pa6 pa7"  # 14 words, 12 shingles
    doc_b = f"pb0 pb1 {span} pb2 pb3"  # 10 words, 8 shingles
    texts += [doc_a, doc_b]
    return _write_documents(tmp_path, texts), len(texts) - 2, len(texts) - 1


def test_dd03_mega_shingle_capped(spark, tmp_path):
    sf, ida, idb = _mega_corpus(tmp_path)
    rows = REGISTRY["dd03_ngram_jaccard"].fn(spark, sf).collect()
    # Without the cap: 70*69/2 = 2415 pairs, each jaccard 1/9 >= 0.05.
    # With the cap the mega bucket never reaches the join: one real pair.
    assert len(rows) == 1
    (r,) = rows
    assert (r.doc_a, r.doc_b) == (ida, idb)
    # 4 shared shingles; sizes 12 and 8 (no shingle besides the mega one is
    # shared with the filler docs, so post-cap sizes equal raw sizes here).
    assert r.jaccard == pytest.approx(4 / (12 + 8 - 4), abs=1e-6)


def test_dd17_mega_shingle_capped_and_direction(spark, tmp_path):
    sf, ida, idb = _mega_corpus(tmp_path)
    rows = REGISTRY["dd17_containment_neardup"].fn(spark, sf).collect()
    assert len(rows) == 1
    (r,) = rows
    assert (r.doc_a, r.doc_b) == (ida, idb)
    assert r.cont_a_in_b == pytest.approx(4 / 12, abs=1e-6)
    assert r.cont_b_in_a == pytest.approx(4 / 8, abs=1e-6)
    assert r.direction == "b_in_a"


def test_dd03_sizes_recomputed_post_cap(spark, tmp_path):
    """When a capped-out shingle ALSO appears in a paired doc, the Jaccard
    denominator must use the post-cap set size (capped universe), not the
    raw shingle count — otherwise Spark and the oracle could pin different
    denominators at scale."""
    # 70 filler docs own the mega shingle; doc A and doc B each ALSO
    # contain it (postings = 72 > cap), plus share a 6-word span.
    texts = [
        f"u{i}a u{i}b mega0 mega1 mega2 u{i}c u{i}d" for i in range(70)
    ]
    span = "s0 s1 s2 s3 s4 s5"
    # A: 3 unique + mega(3) + 1 unique + span(6) + 1 unique = 14 words,
    # 12 raw shingles of which exactly 1 (the pure mega gram) is capped out
    # => post-cap size 11.
    doc_a = f"pa0 pa1 pa2 mega0 mega1 mega2 pa3 {span} pa4"
    # B: 1 unique + mega(3) + 1 unique + span(6) + 1 unique = 12 words,
    # 10 raw shingles, 1 capped => post-cap size 9.
    doc_b = f"pb0 mega0 mega1 mega2 pb1 {span} pb2"
    texts += [doc_a, doc_b]
    sf = _write_documents(tmp_path, texts)
    rows = REGISTRY["dd03_ngram_jaccard"].fn(spark, sf).collect()
    assert len(rows) == 1
    (r,) = rows
    assert (r.doc_a, r.doc_b) == (70, 71)
    # Shared post-cap: the 4 span-internal shingles (mega gram dropped).
    assert r.jaccard == pytest.approx(4 / (11 + 9 - 4), abs=1e-6)


# --- pl17 exchange-count plan golden ------------------------------------------


def test_pl17_windowed_counts_no_joinback(spark):
    """r12 verdict item 4: the dup flags must be window counts over the
    curl/tmd5 hash partitionings, not groupBy + join-back pairs. Since
    the r15 optimization round the corpus total is an unpartitioned
    window over the dimension-sized domain rollup (one documents scan,
    no branch), so the plan has NO join of any kind and exactly four
    data-bearing hash exchanges — curl window, tmd5 window, the
    countDistinct partial pair (domain, curl), and the final domain
    rollup — plus one SinglePartition exchange carrying only the
    ~|sources x TLDs| rollup rows into the total window."""
    from tests.conftest import SF_MED

    df = REGISTRY["pl17_url_provenance"].fn(spark, SF_MED)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash == 4, f"expected 4 hash exchanges, got {n_hash}:\n{plan}"
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("Window") == 3  # curl count + tmd5 count + total


# --- ts20 single-pass training ------------------------------------------------


def test_ts20_single_pass_priors_count_empty_docs(spark, tmp_path):
    """Training now recovers class priors from the SAME exploded pass as
    the bucket counts (first-word marker rows; empty docs surface as a
    null-word row). Priors must equal a direct doc-level recount — with
    an empty document planted to exercise the posexplode_outer path."""
    from xarray_sql_spark.queries.pipeline_ops import _ts20_base, ts20_train

    texts = [
        "fast merge join hash sort group",   # good-heavy
        "slow scan row batch line part",     # bad-heavy
        "",                                   # empty: null-word marker row
        "fast slow alpha beta gamma",
        "merge join slow scan delta",
    ]
    sf = _write_documents(tmp_path, texts)
    ts20_train.cache.clear()
    try:
        iw, bias = ts20_train(spark, sf)
        train = _ts20_base(spark, sf).filter("split = 'train'")
        import math

        rows = train.select("y").collect()
        n_pos = sum(r.y for r in rows)
        n_neg = len(rows) - n_pos
        expect_bias = round(math.log((n_pos + 1) / float(n_neg + 1)) * 1e6)
        assert bias == expect_bias
        assert len(iw) == 64
    finally:
        ts20_train.cache.clear()  # don't leak tmp-fixture weights to other tests


# --- pl22 license gate --------------------------------------------------------


def test_pl22_policy_partition_and_overrides(spark):
    """The gate must partition the whole corpus (token shares sum to 1,
    every doc counted once) and the planted overrides must take
    precedence over suffix rules in BOTH directions: src3.io is allowed
    back in despite 'io' -> noai; src5.com is opted out despite
    'com' -> allow."""
    from tests.conftest import SF_MED
    from xarray_sql_spark.queries.pipeline_ops import (
        _PL22_OVERRIDES,
        _PL22_SUFFIX_POLICY,
    )

    rows = REGISTRY["pl22_license_gate"].fn(spark, SF_MED).collect()
    by_pol = {r.policy: r for r in rows}
    assert sum(r.token_share for r in rows) == pytest.approx(1.0, abs=1e-4)
    assert by_pol["allow"].trainable == 1
    assert all(r.trainable == 0 for r in rows if r.policy != "allow")
    # Policy classes present: every suffix rule maps somewhere and the
    # override domains exist in the corpus (src0-19 x 5 TLDs).
    assert set(by_pol) <= {"allow", "nc", "noai", "unknown"}
    assert {"allow", "nc", "noai"} <= set(by_pol)

    # Precedence, checked per planted override domain.
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_MED}/documents.parquet')"
    )
    # Count docs per domain straight from the oracle's dom CTE.
    spec = REGISTRY["pl22_license_gate"]
    dom_sql = spec.oracle.split("suffix_pol AS")[0] + (
        " cnt AS (SELECT domain, count(*) AS n FROM dom GROUP BY domain)"
        " SELECT domain, n FROM cnt"
    )
    dom_counts = dict(con.execute(dom_sql).fetchall())
    # src3.io docs exist and are counted under 'allow' (override), so the
    # noai bucket must NOT contain them: noai = all .io docs minus
    # src3.io plus src5.com.
    io_docs = sum(n for d, n in dom_counts.items() if d.endswith(".io"))
    assert dom_counts.get("src3.io", 0) > 0
    assert dom_counts.get("src5.com", 0) > 0
    expect_noai = (
        io_docs - dom_counts["src3.io"] + dom_counts["src5.com"]
    )
    assert by_pol["noai"].n_docs == expect_noai


# --- ts25 n-gram classifier ---------------------------------------------------


def test_ts25_bigram_features_fold_into_score(spark):
    """The scorer must consume unigrams AND bigrams: a held-out document's
    score must equal bias + sum of trained weights over both feature
    kinds, recomputed here from the raw weights."""
    import hashlib

    from tests.conftest import SF_MED
    from xarray_sql_spark.queries.pipeline_ops import (
        _TS25_V,
        ts25_train,
    )

    iw, bias = ts25_train(spark, SF_MED)
    assert len(iw) == _TS25_V

    def bucket(feat: str) -> int:
        return int(hashlib.md5(feat.encode()).hexdigest()[:15], 16) % _TS25_V

    df = REGISTRY["ts25_ngram_classifier"].fn(spark, SF_MED)
    sample = df.limit(5).collect()
    from xarray_sql_spark.session import table as _table

    texts = {
        r.doc_id: r.text
        for r in _table(spark, SF_MED, "documents")
        .filter(f"doc_id IN ({','.join(str(s.doc_id) for s in sample)})")
        .collect()
    }
    for s in sample:
        ws = [w for w in texts[s.doc_id].split(" ") if w != ""]
        feats = ws + [f"{a}_{b}" for a, b in zip(ws, ws[1:])]
        expect = bias + sum(iw[bucket(f)] for f in feats)
        assert s.score_micro == expect, s.doc_id


def test_ts25_not_weaker_than_ts20_on_holdout(spark):
    """Bigram features must not hurt: held-out accuracy of ts25 is at
    least ts20's minus a small tolerance (both learn the same weak
    labels; the bigram space mostly refines)."""
    from tests.conftest import SF_MED

    def holdout_acc(name: str) -> float:
        rows = (
            REGISTRY[name]
            .fn(spark, SF_MED)
            .filter("split = 'heldout'")
            .selectExpr("avg(correct) AS a")
            .collect()
        )
        return float(rows[0].a)

    a20 = holdout_acc("ts20_quality_classifier")
    a25 = holdout_acc("ts25_ngram_classifier")
    assert a25 >= a20 - 0.05, (a20, a25)


# --- ts26 domain quality prior --------------------------------------------------


def test_ts26_tiers_partition_and_match_doc_scores(spark):
    """Domain rows must cover the whole corpus, tiers must follow the
    integer-average thresholds exactly, and a domain's avg must equal
    the truncating integer mean of its documents' ts20 scores."""
    from tests.conftest import SF_MED
    from xarray_sql_spark.queries.pipeline_ops import (
        _TS26_KEEP,
        _TS26_SAMPLE,
        _ts20_scored_df,
    )

    rows = REGISTRY["ts26_domain_quality"].fn(spark, SF_MED).collect()
    assert sum(r.n_docs for r in rows) == 500
    tiers = {r.tier for r in rows}
    assert tiers == {"keep", "sample", "drop"}
    for r in rows:
        want = (
            "keep"
            if r.avg_micro > _TS26_KEEP
            else "sample"
            if r.avg_micro > _TS26_SAMPLE
            else "drop"
        )
        assert r.tier == want, r
    # spot-check one domain's average against the per-doc scorer
    # (truncating integer division, negative-safe)
    scored = {r.doc_id: r.score_micro for r in _ts20_scored_df(spark, SF_MED).collect()}
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_MED}/documents.parquet')"
    )
    spec = REGISTRY["ts26_domain_quality"]
    dom_sql = spec.oracle.split("j AS (")[0].rstrip().rstrip(",") + (
        " SELECT doc_id, domain FROM u2"
    )
    doc_domain = dict(con.execute(dom_sql).fetchall())
    target = rows[0].domain
    docs = [d for d, dom in doc_domain.items() if dom == target]
    s = sum(scored[d] for d in docs)
    n = len(docs)
    q = abs(s) // n * (1 if s >= 0 else -1)  # truncate toward zero
    assert rows[0].n_docs == n and rows[0].avg_micro == q


def test_ts25_feats_expr_cross_engine_differential(spark, tmp_path):
    """The unigram+bigram feature arrays must be IDENTICAL between the
    Spark and DuckDB spellings on adversarial token lists — empty, one
    word (the descending-sequence guard), two words, repeated words,
    and 100 seeded random lists."""
    import random

    from xarray_sql_spark.queries.pipeline_ops import _ts25_feats_expr

    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(20)]
    cases = ["", "solo", "a b", "x x x"]
    cases += [
        " ".join(rng.choices(vocab, k=rng.randint(0, 12))) for _ in range(100)
    ]
    sf = _write_documents(tmp_path, cases)

    got_spark = {
        r.doc_id: list(r.fs)
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .selectExpr(
            "doc_id",
            "filter(split(text, ' '), x -> x <> '') AS ws",
        )
        .selectExpr("doc_id", f"{_ts25_feats_expr('spark')} AS fs")
        .collect()
    }
    import duckdb

    con = duckdb.connect()
    got_duck = {
        int(d): list(f)
        for d, f in con.execute(
            "SELECT doc_id, "
            + _ts25_feats_expr("duck")
            + " AS fs FROM (SELECT doc_id, "
            "list_filter(string_split(text, ' '), x -> x <> '') AS ws "
            f"FROM read_parquet('{sf}/documents.parquet'))"
        ).fetchall()
    }
    assert got_spark == got_duck
    assert got_spark[0] == []          # empty doc
    assert got_spark[1] == ["solo"]    # no bigram fabricated
    assert got_spark[2] == ["a", "b", "a_b"]


# --- mm13 perceptual image dedup ------------------------------------------------


def test_mm13_clusters_collide_perceptually_not_byte_exact(spark):
    """Within a planted cluster the members' RAW bytes must differ (the
    block reversal changes the byte stream) while the perceptual hash
    collides — the exact property that separates image near-dup from
    dd01-style exact dedup. Negative control: distinct base images must
    not all collapse into one cluster."""
    import hashlib

    from tests.conftest import SF_MED
    from xarray_sql_spark.operators.multimodal import image_phash_table

    clusters = {
        r.phash: r
        for r in REGISTRY["mm13_image_phash_dedup"].fn(spark, SF_MED).collect()
    }
    assert len(clusters) > 10  # many planted groups survive
    assert max(r.n_images for r in clusters.values()) <= 5  # group size cap
    # keeper is the group leader (min doc_id = multiple of 15)
    assert all(r.keeper_doc_id % 15 == 0 for r in clusters.values())

    # raw-byte distinctness inside clusters: group members' payload md5s
    assets = image_phash_table(spark, SF_MED).collect()
    by_group: dict[int, set] = {}
    for a in assets:
        by_group.setdefault(a.doc_id // 15, set()).add(
            hashlib.md5(bytes(a.content)).hexdigest()
        )
    multi = [g for g, hs in by_group.items() if len(hs) >= 2]
    assert len(multi) > 10  # reversal really changed bytes in most groups


def test_mm13_block_reversal_hash_invariance_property():
    """The fixture's load-bearing claim, property-tested without Spark:
    reversing the exact span of any hash block preserves the 64-bit
    block-mean hash for ANY pixel body (block sums are permutation-
    invariant within a block), while flipping a single byte's value can
    change it. Replicates the kernel's integer bit rule verbatim."""
    import random

    import numpy as np

    from xarray_sql_spark.operators.multimodal import (
        _MM13_BLOCKS,
        _MM13_MIN_PX,
    )

    def phash_bits(body: bytes) -> str:
        px = np.frombuffer(body, np.uint8).astype(np.int64)
        n = int(px.size)
        blk = (np.arange(n, dtype=np.int64) * _MM13_BLOCKS) // n
        sums = np.bincount(blk, weights=px, minlength=_MM13_BLOCKS).astype(
            np.int64
        )
        cnts = np.bincount(blk, minlength=_MM13_BLOCKS).astype(np.int64)
        total = int(px.sum())
        return "".join(
            "1" if int(sums[b]) * n >= total * int(cnts[b]) else "0"
            for b in range(_MM13_BLOCKS)
        )

    rng = random.Random(1313)
    changed = 0
    for _ in range(200):
        n = rng.randint(_MM13_MIN_PX, 600)
        body = bytearray(rng.randbytes(n))
        base = phash_bits(bytes(body))
        b = rng.randrange(_MM13_BLOCKS)
        span = [q for q in range(n) if q * _MM13_BLOCKS // n == b]
        lo, hi = span[0], span[-1] + 1
        perturbed = bytearray(body)
        perturbed[lo:hi] = perturbed[lo:hi][::-1]
        assert phash_bits(bytes(perturbed)) == base  # invariance, always
        # sensitivity: a large single-byte change flips the hash in a
        # healthy fraction of cases (not a constant function)
        mutated = bytearray(body)
        mutated[lo] = (mutated[lo] + 128) % 256
        if phash_bits(bytes(mutated)) != base:
            changed += 1
    assert changed > 50, changed


def test_mm14_audio_clusters_and_sample_framing(spark):
    """mm14: clusters exist with keeper = audio-slot group leader
    (doc_id % 15 == 1), members' raw bytes differ (whole-sample
    reversal), and the fingerprint is computed over SAMPLES — verified
    by the oracle hash test; here pin the cluster shape."""
    import hashlib

    from tests.conftest import SF_MED
    from xarray_sql_spark.operators.multimodal import audio_phash_table

    clusters = REGISTRY["mm14_audio_fingerprint_dedup"].fn(spark, SF_MED).collect()
    assert len(clusters) > 10
    assert max(r.n_clips for r in clusters) <= 5
    assert all(r.keeper_doc_id % 15 == 1 for r in clusters)

    assets = audio_phash_table(spark, SF_MED).collect()
    by_group: dict[int, set] = {}
    for a in assets:
        by_group.setdefault(a.doc_id // 15, set()).add(
            hashlib.md5(bytes(a.content)).hexdigest()
        )
    assert len([g for g, hs in by_group.items() if len(hs) >= 2]) > 10
