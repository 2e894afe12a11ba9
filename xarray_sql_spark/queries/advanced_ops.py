"""Round-5/6 additions: cohort retention, LATERAL top-n, semantic dedup,
int8 scalar-quantized similarity scoring, sublinear k-NN classification,
recursive-CTE month spine, temperature mixture quotas, PII redaction.

Same conventions as :mod:`pipeline_ops`: Spark implementations stay
JVM-side, every pairwise operation is bucketed (cluster id here plays the
LSH-bucket role), and the DuckDB oracle re-expresses the identical
deterministic math so the driver can hash-compare values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from xarray_sql_spark.registry import query
from xarray_sql_spark.session import table


def _parquet_footer_max(sf_dir: str, name: str, col: str) -> int:
    """Max of an int column from parquet row-group statistics — a footer
    read, never a Spark job. Used only for plan-shaping heuristics
    (partition/bucket widths), so the 0 fallback is always safe."""
    import os

    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet")).metadata
        idx = md.schema.to_arrow_schema().get_field_index(col)
        vals = [
            md.row_group(g).column(idx).statistics.max
            for g in range(md.num_row_groups)
            if md.row_group(g).column(idx).statistics is not None
        ]
        return int(max(vals)) if vals else 0
    except Exception:
        return 0


def _doc_bucket_width(spark, sf_dir: str) -> int:
    """doc_id bucket width for distributed prefix sums (pl06/pl16): a
    parquet-footer max probe (zero jobs) with a one-job count fallback —
    footer statistics can be absent (directory layouts, statistics-free
    writers), and the silent width=1 degradation put one subtotal row
    per DOCUMENT under the unpartitioned offsets window, the exact
    serial collapse the bucketing exists to avoid (review finding).
    Width only shapes the plan; any positive value is CORRECT."""
    mx = _parquet_footer_max(sf_dir, "documents", "doc_id")
    if mx <= 0:
        from pyspark.sql import functions as _F

        from xarray_sql_spark.session import table as _table

        mx = (
            _table(spark, sf_dir, "documents")
            .agg(_F.max("doc_id"))
            .collect()[0][0]
            or 0
        )
    return max(mx // 4096, 1)


def _parquet_footer_rows(sf_dir: str, name: str) -> int | None:
    """Exact row count from the parquet footer — a metadata read, no Spark
    job. None if the footer can't be read (caller falls back to count())."""
    import os

    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet")).metadata.num_rows
    except Exception:
        return None


# --- ev08: weekly cohort retention matrix -----------------------------------
@query(
    "ev08_cohort_retention",
    oracle="""
    WITH f AS (
        SELECT user_id, ts, min(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events
    )
    SELECT strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', date_trunc('week', first_ts),
                          date_trunc('week', ts)) // 7 AS INT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM f
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    tags=("events", "window", "cohort", "pipeline"),
)
def ev08_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: cohort = ISO week of each user's first
    event; one cell per (cohort_week, week_offset) counting distinct active
    users. The classic growth-analytics matrix.

    Scale: one shuffle on user_id for the per-user first-event window, then
    a partial-aggregated count-distinct on the tiny (cohort, offset) key
    space — no join back to the fact table."""
    e = table(spark, sf_dir, "events")
    first_ts = F.min("ts").over(W.partitionBy("user_id"))
    cohort = F.date_trunc("week", first_ts)
    week = F.date_trunc("week", F.col("ts"))
    offset = F.floor(F.datediff(week.cast("date"), cohort.cast("date")) / 7).cast("int")
    return (
        e.select(
            F.date_format(cohort, "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


# --- q37: correlated LATERAL top-n per group --------------------------------
# comma-LATERAL: the one lateral spelling both Spark (3.2+) and DuckDB parse
_Q37_SQL = """
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM {nation} n, LATERAL (
        SELECT c_name, c_acctbal, c_custkey
        FROM {customer}
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 3
    ) t
    ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey
"""


@query(
    "q37_lateral_topn",
    oracle=_Q37_SQL.format(nation="nation", customer="customer"),
    tags=("relational", "lateral", "subquery"),
)
def q37_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table: top-3 customers by balance per
    nation, written as a lateral subquery with ORDER BY ... LIMIT — the
    SQL:2016 surface DataFusion exposes via LATERAL and Spark supports
    since 3.2. Catalyst decorrelates the per-row subquery into a join +
    window rather than a nested loop (checked in tests/test_plans.py)."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("q37_nation")
    table(spark, sf_dir, "customer").createOrReplaceTempView("q37_customer")
    return spark.sql(_Q37_SQL.format(nation="q37_nation", customer="q37_customer"))


# --- dd07: semantic (embedding-cluster) dedup -------------------------------


def semantic_dedup_k(n: int, target_cluster: int = 256) -> int:
    """Corpus-proportional seed count: k = max(16, n // target) keeps the
    TARGET cluster size constant as the corpus grows, bounding the
    within-cluster O(size^2) work per task at any scale."""
    return max(16, n // target_cluster)


def semantic_cluster_assign(base: DataFrame, seed_rows) -> DataFrame:
    """Nearest-seed assignment: one Arrow-batched numpy kernel per batch,
    seeds in the closure (broadcast-dim pattern), no join, no window.
    Sequential-over-dims accumulation reproduces DuckDB's list_distance
    doubles exactly, so argmin ties resolve identically cross-engine."""
    import numpy as np

    S = np.stack([np.asarray(r.v, dtype=np.float64) for r in seed_rows])
    seed_ids = np.array([r.vec_id for r in seed_rows], dtype=np.int64)

    def _assign(batches):
        for pdf in batches:
            X = np.stack(pdf["v"].to_numpy())  # (n, dim)
            dist = np.empty((len(S), X.shape[0]))
            for si, s in enumerate(S):
                acc = np.zeros(X.shape[0])
                for j in range(X.shape[1]):
                    d = X[:, j] - s[j]
                    acc = acc + d * d
                dist[si] = np.sqrt(acc)
            pdf["cluster"] = seed_ids[np.argmin(dist, axis=0)]
            yield pdf

    return base.mapInPandas(_assign, "vec_id long, v array<double>, cluster long")


@query(
    "dd07_semantic_dedup",
    oracle="""
    WITH d AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), kk AS (
        SELECT greatest(16, count(*) // 256) AS k FROM d
    ), seeds AS (
        SELECT vec_id AS seed_id, v AS sv FROM d, kk WHERE d.vec_id < kk.k
    ), assigned AS (
        SELECT d.vec_id, d.v, s.seed_id,
               row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY list_distance(d.v, s.sv), s.seed_id
               ) AS rn
        FROM d CROSS JOIN seeds s
    ), clustered AS (
        SELECT vec_id, v, seed_id FROM assigned WHERE rn = 1
    )
    SELECT CAST(a.seed_id AS BIGINT) AS cluster,
           CAST(a.vec_id AS BIGINT) AS vec_a,
           CAST(b.vec_id AS BIGINT) AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM clustered a
    JOIN clustered b ON a.seed_id = b.seed_id AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    """,
    tags=("dedup", "similarity", "pipeline"),
)
def dd07_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup-style): assign every embedding to its
    nearest of k seed centroids (deterministic: the first k vec_ids,
    k = max(16, n // 256) so the TARGET cluster size stays constant as
    the corpus grows), then run the pairwise cosine check WITHIN
    clusters only — vectorized per cluster.

    Scale: k is corpus-proportional, so per-task memory for the
    within-cluster gram matrix stays O(target_cluster_size x dim)
    regardless of corpus size (pinned by
    tests/test_plans.py::test_semantic_dedup_k_scales_with_corpus).
    The k centroids ship in the UDF closure (the broadcast-dim pattern);
    assignment is a narrow Arrow-batched map over the corpus (no
    per-(vector, seed) row explosion, no window), and candidate
    generation is grouped on the cluster id — the same sublinear shape
    as the LSH dedups. The closure broadcast holds while k*dim*8 bytes
    fit an executor (~100k seeds at dim 768); past that, assignment
    swaps to ss04's IVF cell-join shape with the same seed rule. The
    within-cluster check is an Arrow-batched ``applyInPandas`` doing ONE
    numpy gram-matrix per cluster instead of |pairs| x dim interpreted
    lambda evaluations. np.einsum with optimize=False sums sequentially
    like the oracle's list_cosine_similarity, keeping the 6-dp rounding
    deterministic cross-engine."""
    import numpy as np
    import pandas as pd

    e = table(spark, sf_dir, "embeddings", spread=True)
    vec = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", vec.alias("v"))
    # constant target cluster size: k grows with the corpus. The row count
    # comes from the parquet footer when available (zero Spark jobs; the
    # unfiltered table count equals metadata num_rows), else one
    # metadata-cheap count job.
    n = _parquet_footer_rows(sf_dir, "embeddings")
    k = semantic_dedup_k(n if n is not None else base.count())
    # k seed centroids: a bounded driver-side collect (the dimension side
    # of a broadcast, not a data-scale action), shipped in the UDF closure.
    seed_rows = sorted(
        base.filter(F.col("vec_id") < k).collect(), key=lambda r: r.vec_id
    )
    if not seed_rows:  # degenerate corpus: no seeds -> no clusters -> no pairs
        return spark.createDataFrame(
            [], "cluster long, vec_a long, vec_b long, cosine double"
        )
    clustered = semantic_cluster_assign(base, seed_rows)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        X = np.stack(pdf["v"].to_numpy())  # (n, dim) float64
        # sequential-sum dots (optimize=False): same accumulation order as
        # the oracle's list arithmetic -> identical doubles
        norms = np.sqrt(np.einsum("ij,ij->i", X, X, optimize=False))
        gram = np.einsum("ij,kj->ik", X, X, optimize=False)
        cos = gram / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(pdf), k=1)
        keep = cos[ia, ib] >= 0.4
        ia, ib = ia[keep], ib[keep]
        return pd.DataFrame(
            {
                "cluster": np.full(len(ia), pdf["cluster"].iloc[0], dtype=np.int64),
                "vec_a": pdf["vec_id"].to_numpy()[ia],
                "vec_b": pdf["vec_id"].to_numpy()[ib],
                "cosine": np.round(cos[ia, ib], 6),
            }
        )

    return (
        clustered.groupBy("cluster")
        .applyInPandas(_pairs, "cluster long, vec_a long, vec_b long, cosine double")
        .orderBy("cluster", "vec_a", "vec_b")
    )


# --- ss06: int8 scalar-quantized similarity scoring -------------------------
@query(
    "ss06_sq_topk",
    oracle="""
    WITH d AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), m AS (
        SELECT vec_id, v,
               greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS maxabs
        FROM d
    ), quant AS (
        SELECT vec_id, maxabs / 127.0 AS scale,
               list_transform(v, x -> CAST(floor(x * 127.0 / maxabs) AS BIGINT)) AS qv
        FROM m
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               q.scale * c.scale * list_inner_product(q.qv, c.qv) AS s
        FROM (SELECT * FROM quant WHERE vec_id < 5) q
        JOIN quant c ON c.vec_id <> q.vec_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           round(s, 6) AS approx_dot
    FROM (
        SELECT query_id, neighbor_id, s,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY s DESC, neighbor_id
               ) AS rk
        FROM scored
    )
    WHERE rk <= 5
    ORDER BY query_id, approx_dot DESC, neighbor_id
    """,
    tags=("similarity", "quantization", "pipeline"),
)
def ss06_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized similarity: per-vector symmetric quantization
    (scale = max|x|/127, q = floor(x/scale)), approximate dot product =
    scale_q * scale_c * <q_q, q_c> over int64-exact integer dots; top-5
    per query vector.

    Scale: this is the compressed-domain scoring path — 4x less memory
    bandwidth than float32 and integer SIMD dots; the corpus side stays
    partitioned, the 5-query side broadcasts, and only (query x k) rows
    shuffle for the final rank. The integer dot is exact in both engines,
    so ranking (and the driver hash) is deterministic cross-engine."""
    e = table(spark, sf_dir, "embeddings", spread=True)
    vec = F.col("embedding").cast("array<double>")
    m = e.select(
        "vec_id",
        vec.alias("v"),
        F.greatest(F.array_max(F.transform(vec, lambda x: F.abs(x))), F.lit(1e-30)).alias(
            "maxabs"
        ),
    )
    quant = m.select(
        "vec_id",
        (F.col("maxabs") / F.lit(127.0)).alias("scale"),
        F.expr("transform(v, x -> CAST(floor(x * 127.0 / maxabs) AS BIGINT))").alias("qv"),
    )
    q = quant.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("scale").alias("qscale"),
        F.col("qv").alias("qqv"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("qqv"), F.col("qv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    scored = (
        quant.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (F.col("qscale") * F.col("scale") * idot.cast("double")).alias("s"),
        )
    )
    rk = F.row_number().over(W.partitionBy("query_id").orderBy(F.desc("s"), F.asc("neighbor_id")))
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", F.round("s", 6).alias("approx_dot"))
        .orderBy("query_id", F.desc("approx_dot"), "neighbor_id")
    )


# --- q38: SCD2 dimension build + point-in-time join -------------------------
@query(
    "q38_scd2_pit_join",
    oracle="""
    WITH versions AS (
        SELECT user_id, ts, value,
               row_number() OVER (
                   PARTITION BY user_id, ts ORDER BY event_id DESC
               ) AS dup_rn
        FROM events WHERE event_type = 'view'
    ), dim AS (
        SELECT user_id, ts AS valid_from, value,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
        FROM versions WHERE dup_rn = 1
    )
    SELECT CAST(p.event_id AS BIGINT) AS event_id,
           CAST(p.user_id AS BIGINT) AS user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(d.valid_from, '%Y-%m-%d %H:%M:%S') AS version_from,
           round(d.value, 6) AS version_value
    FROM events p
    JOIN dim d
      ON p.user_id = d.user_id
     AND p.ts >= d.valid_from
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    WHERE p.event_type = 'purchase'
    ORDER BY event_id
    """,
    tags=("events", "scd2", "interval-join", "window"),
)
def q38_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build + point-in-time join: each
    user's 'view' events become profile versions with [valid_from,
    valid_to) intervals (valid_to = next version's start, open-ended for
    the current row); every 'purchase' is enriched with the version that
    was in force at its timestamp — the feature-store / training-data
    "no-peeking" join.

    Scale: the dimension derives with one user_id-partitioned window (no
    self-join), and the PIT join is a user_id equi-join whose interval
    predicate filters post-shuffle — versions-per-user is small and
    bounded, so no key explodes. Duplicate-timestamp versions collapse
    deterministically (highest event_id wins) so both engines build the
    identical dimension."""
    e = table(spark, sf_dir, "events", spread=True)
    views = e.filter(F.col("event_type") == "view")
    # One user_id exchange for the whole dimension build: sorting by
    # (ts, event_id DESC) within the user makes "first row of each ts
    # run" exactly the max-event_id duplicate survivor (same row the
    # oracle's row_number over (user_id, ts) picks), and the lead()
    # window over the filtered rows reuses the same partitioning —
    # Catalyst plans a single shuffle instead of (user_id, ts) + user_id.
    w_sort = W.partitionBy("user_id").orderBy("ts", F.desc("event_id"))
    prev_ts = F.lag("ts").over(w_sort)
    versions = views.withColumn(
        "is_first", prev_ts.isNull() | (prev_ts != F.col("ts"))
    ).filter(F.col("is_first"))
    dim = versions.select(
        F.col("user_id").alias("d_user"),
        F.col("ts").alias("valid_from"),
        F.col("value").alias("d_value"),
    ).withColumn(
        "valid_to", F.lead("valid_from").over(W.partitionBy("d_user").orderBy("valid_from"))
    )
    p = e.filter(F.col("event_type") == "purchase")
    joined = p.join(
        dim,
        (p["user_id"] == dim["d_user"])
        & (p["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (p["ts"] < dim["valid_to"])),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("version_from"),
        F.round("d_value", 6).alias("version_value"),
    ).orderBy("event_id")


# --- pl05: stratified exact-quota split -------------------------------------
@query(
    "pl05_stratified_split",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5('pl05|' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk,
               count(*) OVER (PARTITION BY lang, source) AS stratum_n
        FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, source,
           CAST(rk AS BIGINT) AS rk, CAST(stratum_n AS BIGINT) AS stratum_n
    FROM ranked
    WHERE rk <= CAST(ceil(stratum_n * 0.2) AS BIGINT)
    ORDER BY lang, source, rk
    """,
    tags=("sampling", "pipeline", "window"),
)
def pl05_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with EXACT per-stratum quotas: ceil(20%) of
    every (lang, source) stratum, chosen by a salted-md5 rank so the
    sample is deterministic, repartition-stable, and content-addressed
    (re-running over re-shuffled data picks the same docs) — unlike
    df.sampleBy, which is probabilistic per row and gives only expected
    quotas.

    Scale: one shuffle on the stratum key; each window partition is a
    stratum, so skewed strata parallelize across... their own task — for
    pathological single-stratum skew compose with the sk01 salting
    pattern. No driver-side stratum enumeration (no collect of the key
    space, which at 100 TB could itself be large)."""
    d = table(spark, sf_dir, "documents", spread=True)
    rank_key = F.md5(F.concat(F.lit("pl05|"), F.col("doc_id").cast("string")))
    w = W.partitionBy("lang", "source")
    ranked = d.select(
        "doc_id",
        "lang",
        "source",
        F.row_number().over(w.orderBy(rank_key, "doc_id")).alias("rk"),
        F.count("*").over(w).alias("stratum_n"),
    )
    quota = F.ceil(F.col("stratum_n") * F.lit(0.2)).cast("long")
    return (
        ranked.filter(F.col("rk") <= quota)
        .select("doc_id", "lang", "source", F.col("rk").cast("long"), F.col("stratum_n").cast("long"))
        .orderBy("lang", "source", "rk")
    )


# --- q39: bucketed range join (neither side broadcastable) ------------------
@query(
    "q39_bucketed_range_join",
    oracle="""
    WITH bands AS (
        SELECT i AS band_id,
               10 * i + (i * i % 7) AS lo,
               10 * (i + 1) + ((i + 1) * (i + 1) % 7) AS hi
        FROM range(100) t(i)
    )
    SELECT CAST(b.band_id AS BIGINT) AS band_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 0) AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY band_id
    ORDER BY band_id
    """,
    tags=("relational", "range-join", "bucketing"),
)
def q39_bucketed_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-lookup join via BUCKETING: map facts and interval bands onto
    fixed-width buckets (bands explode into every bucket they overlap),
    equi-join on the bucket id, then filter to the exact interval — the
    IP-geolocation / price-band lookup pattern.

    Scale: q13/gq05 broadcast the interval side; this is the technique
    for when NEITHER side fits in a broadcast (millions of irregular
    bands). The equi-join on bucket id hash-partitions both sides, each
    band duplicates only into ceil(width/bucket) buckets, and the exact
    range predicate runs post-join on co-located rows — work is
    O(facts + bands x overlap), never O(facts x bands), and AQE can
    split a hot bucket. The oracle states the plain interval-join
    semantics; the bucket decomposition is invisible in the result."""
    bucket_w = 16
    i = F.col("id")
    bands = spark.range(100).select(
        i.alias("band_id"),
        (10 * i + (i * i % 7)).cast("double").alias("lo"),
        (10 * (i + 1) + ((i + 1) * (i + 1) % 7)).cast("double").alias("hi"),
    )
    exploded = bands.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / bucket_w), F.floor(F.col("hi") / bucket_w)
            )
        ),
    )
    e = table(spark, sf_dir, "events", spread=True).withColumn(
        "bucket", F.floor(F.col("value") / bucket_w)
    )
    joined = e.join(
        exploded,
        (e["bucket"] == exploded["bucket"])
        & (e["value"] >= exploded["lo"])
        & (e["value"] < exploded["hi"]),
    )
    return (
        joined.groupBy("band_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 0).alias("total_value"),
        )
        .orderBy("band_id")
    )


# --- pl06: weighted systematic sampling via distributed prefix sum ----------
@query(
    "pl06_weighted_sample",
    oracle="""
    WITH c AS (
        SELECT doc_id, n_chars,
               sum(n_chars) OVER (ORDER BY doc_id) AS cum
        FROM documents
    ), p AS (
        SELECT greatest(CAST(sum(n_chars) // 100 AS BIGINT), 1) AS step
        FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(cum AS BIGINT) AS cum
    FROM c, p
    WHERE cum // step > (cum - n_chars) // step
    ORDER BY doc_id
    """,
    tags=("sampling", "pipeline", "prefix-sum"),
)
def pl06_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted systematic sampling WITHOUT randomness: lay every doc's
    n_chars weight on a line, drop a tick every ``total/100`` units, and
    keep the docs whose weight interval contains a tick — probability
    proportional to size, exactly reproducible (all integer arithmetic),
    the standard way to materialize a token-weighted training mixture.
    Ticks sit at m*step for m >= 1 and a doc owns the weight interval
    (cum - w, cum], so the crossing test ``cum DIV step >
    (cum - w) DIV step`` uses only non-negative operands — truncating
    and flooring division agree, and the corpus head is selectable like
    everything else.

    Scale: the global running weight is a DISTRIBUTED PREFIX SUM, not a
    single-partition window over the data. Docs cumsum WITHIN doc_id
    buckets (a partitioned window); the bucket width adapts to the
    corpus (max_id/4096) so the bucket-subtotal table — the ONLY
    unpartitioned window input — is at most ~4096 rows at any corpus
    size; exclusive bucket offsets broadcast-join back. The only
    data-scale shuffle is the bucket-partitioned sort, and the tick
    test is a per-row integer expression. (The max-doc_id probe reads
    parquet footer statistics — zero jobs — falling back to one max()
    job when statistics are absent; width is a plan-shape heuristic, so
    any probe answer is semantically safe.)"""
    d = table(spark, sf_dir, "documents", spread=True).select("doc_id", "n_chars")
    # Bucket width only shapes the plan (any width is CORRECT — it decides
    # how many subtotal rows the tiny window sees): a footer probe with a
    # count fallback, shared with pl16 (_doc_bucket_width).
    width = _doc_bucket_width(spark, sf_dir)
    d = d.withColumn("bucket", F.expr(f"doc_id DIV {width}"))
    within = F.sum("n_chars").over(
        W.partitionBy("bucket").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    )
    d = d.withColumn("wcum", within)
    per_bucket = d.groupBy("bucket").agg(F.sum("n_chars").alias("bw"))
    off = F.sum("bw").over(
        W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    )
    total = F.sum("bw").over(
        W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    offsets = (
        per_bucket.select(
            "bucket",
            F.coalesce(off, F.lit(0)).alias("off"),
            total.alias("_total"),
        )
        # integer DIV, not /100-then-cast: double division can misround
        # near integer boundaries at large totals; the oracle uses //
        .withColumn("step", F.greatest(F.expr("1L"), F.expr("_total DIV 100")))
        .drop("_total")
    )
    joined = d.join(F.broadcast(offsets), "bucket").withColumn(
        "cum", F.col("off") + F.col("wcum")
    )
    return (
        joined.filter(F.expr("cum DIV step > (cum - n_chars) DIV step"))
        .select("doc_id", "n_chars", "cum")
        .orderBy("doc_id")
    )


# --- ts06: character-bigram entropy quality signal --------------------------
@query(
    "ts06_char_entropy",
    oracle="""
    WITH bg AS (
        SELECT doc_id, substring(text, i, 2) AS b
        FROM documents, LATERAL (
            SELECT unnest(range(1, length(text))) AS i
        ) t
        WHERE length(text) >= 2
    ), counts AS (
        SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
    FROM counts GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("text", "quality", "entropy", "pipeline"),
)
def ts06_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-bigram Shannon entropy per document — the
    model-free repetitiveness signal (template/boilerplate/garbage text
    scores low, natural prose high) that complements ts01's surface
    ratios and ts05's exact-repetition rule. H = ln(T) - (1/T)*sum(c ln c)
    over the bigram count distribution, so only counts are aggregated and
    the log algebra runs once per (doc, bigram).

    Scale: bigram synthesis is a JVM higher-order function in the scan
    projection; the only shuffle keys are (doc_id, bigram) with map-side
    partial counts, then doc_id — raw text never shuffles. ln() at 6-dp
    rounding is cross-engine deterministic (established by ts04's
    driver-green TF-IDF).

    r16 measured-and-rejected: a zero-exchange per-row formulation
    (array_sort the bigrams, run-length fold for sum(c·ln c) — and a
    boundary-index variant without per-element structs) was proven
    output-identical and interleave-measured 1.22x faster at sf0.1 but
    0.64-0.72x at the 10x replica: the per-row sort + lambda compute
    constant exceeds what the two map-side-combined 8-byte-keyed
    exchanges cost, so the explode shape is the scale-favorable one
    (OPTIMIZATION_r16.md §11; with the rewrite in the working tree,
    ``SPARK_GRAFT_SF_DIR=<10x replica of scripts/scale_probe.py>
    python3 scripts/ab.py --base 330572d ts06_char_entropy`` repeats it)."""
    d = table(spark, sf_dir, "documents", spread=True).filter(F.length("text") >= 2)
    bigrams = F.expr("transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))")
    counts = (
        d.select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
    )
    c = F.col("c").cast("double")
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(
                F.log(F.sum(c)) - F.sum(c * F.log(c)) / F.sum(c), 6
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


# --- q40: deterministic ordered-set aggregates (mode, percentile_disc) ------
@query(
    "q40_mode_percentile_disc",
    oracle="""
    WITH c AS (
        SELECT l_returnflag AS f, l_quantity AS q, count(*) AS c
        FROM lineitem GROUP BY 1, 2
    ), t AS (
        SELECT f, q, c,
               sum(c) OVER (PARTITION BY f ORDER BY q) AS cc,
               sum(c) OVER (PARTITION BY f) AS n
        FROM c
    ), med AS (
        SELECT f, min(q) AS median_disc
        FROM t WHERE cc >= (n + 1) // 2 GROUP BY f
    ), md AS (
        SELECT f, q AS mode_q, c AS mode_n
        FROM (
            SELECT f, q, c,
                   row_number() OVER (PARTITION BY f ORDER BY c DESC, q) AS rn
            FROM c
        ) WHERE rn = 1
    )
    SELECT md.f AS l_returnflag,
           round(md.mode_q, 2) AS mode_qty,
           CAST(md.mode_n AS BIGINT) AS mode_count,
           round(med.median_disc, 2) AS median_disc
    FROM md JOIN med ON md.f = med.f
    ORDER BY l_returnflag
    """,
    tags=("relational", "aggregates", "mode", "percentile"),
)
def q40_mode_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregates with DETERMINISTIC tie-breaks: per return
    flag, the modal quantity (ties -> smallest value, unlike engines'
    arbitrary mode()) and the discrete median (percentile_disc 0.5 = the
    actual data value at position ceil(n/2), not an interpolation).

    Scale: both statistics come off the (flag, quantity) COUNT table —
    distinct values, not rows — so after the first partial-aggregated
    groupBy the windows run over a few hundred rows per flag; no
    value-buffering aggregate, no sort of the raw fact table (the q23
    histogram trick applied to ordered-set aggregates)."""
    li = table(spark, sf_dir, "lineitem", spread=True)
    c = li.groupBy(
        F.col("l_returnflag").alias("f"), F.col("l_quantity").alias("q")
    ).agg(F.count("*").alias("c"))
    # All three statistics come off ONE pass: three window columns share
    # the single exchange on f (two branches would re-scan and
    # re-aggregate the fact table), then one tiny groupBy picks the
    # median-straddling and mode rows with conditional aggregates.
    wf = W.partitionBy("f")
    t = c.select(
        "f", "q", "c",
        F.sum("c").over(wf.orderBy("q")).alias("cc"),
        F.sum("c").over(wf.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("n"),
        F.row_number().over(wf.orderBy(F.desc("c"), F.asc("q"))).alias("rn"),
    )
    agg = t.groupBy("f").agg(
        # integer DIV like the oracle's // — float /2 would demand cc >= n/2+0.5
        # on even groups and return the upper median instead of disc(0.5)
        F.min(F.when(F.expr("cc >= (n + 1) DIV 2"), F.col("q"))).alias("median_disc"),
        F.min(F.when(F.col("rn") == 1, F.col("q"))).alias("mode_q"),
        F.min(F.when(F.col("rn") == 1, F.col("c"))).alias("mode_n"),
    )
    return agg.select(
        F.col("f").alias("l_returnflag"),
        F.round("mode_q", 2).alias("mode_qty"),
        F.col("mode_n").cast("long").alias("mode_count"),
        F.round("median_disc", 2).alias("median_disc"),
    ).orderBy("l_returnflag")


# --- ss07: exact k-NN majority-label classification -------------------------
@query(
    "ss07_knn_classify",
    oracle="""
    WITH d AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, v AS qv, label AS qlabel
        FROM d WHERE vec_id < 5
    ), scored AS (
        SELECT q.query_id, q.qlabel, c.vec_id AS nid, c.label AS nlabel,
               list_cosine_similarity(q.qv, c.v) AS cos
        FROM q JOIN d c ON c.vec_id <> q.query_id
    ), top AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, nid
            ) AS rk FROM scored
        ) WHERE rk <= 10
    ), votes AS (
        SELECT query_id, qlabel, nlabel, count(*) AS n
        FROM top GROUP BY query_id, qlabel, nlabel
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(qlabel AS INT) AS query_label,
           CAST(nlabel AS INT) AS pred_label,
           CAST(n AS BIGINT) AS votes
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY n DESC, nlabel
        ) AS vr FROM votes
    ) WHERE vr = 1
    ORDER BY query_id
    """,
    tags=("similarity", "classification", "pipeline"),
)
def ss07_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN classification: each query vector takes the majority
    label of its 10 nearest corpus neighbors by cosine (vote ties break
    to the smallest label, rank ties to the smallest neighbor id) — the
    standard embedding-quality probe run over eval sets during training.
    First consumer of the embeddings table's label column.

    Scale: identical shape to ss01's exact baseline — query side
    broadcasts, the corpus side stays partitioned for the dot products,
    and only (query x k) rows shuffle into the vote count. This exact
    version is the oracle-grade baseline; the sublinear production
    variant is ``ss08_knn_classify_ivf`` (same vote tail over ss04's
    IVF-bucketed candidates)."""
    e = table(spark, sf_dir, "embeddings", spread=True)
    vec = F.col("embedding").cast("array<double>")
    withn = e.select(
        "vec_id",
        "label",
        vec.alias("v"),
        F.sqrt(
            F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
        ).alias("norm"),
    )
    q = withn.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
    )
    c = withn.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = c.join(F.broadcast(q), F.col("nid") != F.col("query_id")).select(
        "query_id", "query_label", "nid", "nlabel",
        (dot / (F.col("qn") * F.col("cn"))).alias("cos"),
    )
    rk = F.row_number().over(W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nid")))
    votes = (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 10)
        .groupBy("query_id", "query_label", "nlabel")
        .agg(F.count("*").alias("n"))
    )
    vr = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("n"), F.asc("nlabel"))
    )
    return (
        votes.withColumn("vr", vr)
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("query_label").cast("int"),
            F.col("nlabel").cast("int").alias("pred_label"),
            F.col("n").alias("votes"),
        )
        .orderBy("query_id")
    )


# --- ss08: sublinear k-NN classification (IVF candidates) -------------------
@query(
    "ss08_knn_classify_ivf",
    oracle="""
    WITH d AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ), cent AS (
        SELECT vec_id AS cell, v AS cv FROM d WHERE vec_id < 8
    ), assign AS (
        SELECT vec_id, label, v, cell FROM (
            SELECT d.vec_id, d.label, d.v, cent.cell,
                   row_number() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY list_cosine_similarity(d.v, cent.cv) DESC,
                                cent.cell
                   ) AS rnk
            FROM d CROSS JOIN cent
        ) WHERE rnk = 1
    ), probes AS (
        SELECT vec_id AS query_id, label AS qlabel, v AS qv, cell FROM (
            SELECT d.vec_id, d.label, d.v, cent.cell,
                   row_number() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY list_cosine_similarity(d.v, cent.cv) DESC,
                                cent.cell
                   ) AS rnk
            FROM d CROSS JOIN cent
            WHERE d.vec_id < 5
        ) WHERE rnk <= 2
    ), scored AS (
        SELECT p.query_id, p.qlabel, a.vec_id AS nid, a.label AS nlabel,
               list_cosine_similarity(p.qv, a.v) AS cos
        FROM probes p
        JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ), top AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, nid
            ) AS rk FROM scored
        ) WHERE rk <= 10
    ), votes AS (
        SELECT query_id, qlabel, nlabel, count(*) AS n
        FROM top GROUP BY query_id, qlabel, nlabel
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(qlabel AS INT) AS query_label,
           CAST(nlabel AS INT) AS pred_label,
           CAST(n AS BIGINT) AS votes
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY n DESC, nlabel
        ) AS vr FROM votes
    ) WHERE vr = 1
    ORDER BY query_id
    """,
    tags=("similarity", "classification", "pipeline"),
)
def ss08_knn_classify_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBLINEAR k-NN classification: ss07's majority-vote tail fed by
    ss04's IVF candidate generation instead of the full-corpus scoring —
    the production shape ss07's docstring promised. The coarse quantizer
    (deterministic: centroids = the first 8 vectors) assigns every corpus
    vector to a cell with one broadcast pass; each query probes its 2
    nearest cells, and only those cells' members are scored and voted on.

    Scale: the corpus never pairs with the query side — candidates come
    from an EQUI-join on the cell id (hash-partitionable; the only
    nested-loop join in the plan is the 8-row centroid broadcast), so
    scoring cost is corpus/cells x nprobe per query instead of the full
    corpus, and only (query x candidates-in-probed-cells) rows reach the
    top-k window. Recall is approximate by construction; the oracle
    replicates the identical algorithm, so the gate checks structure.
    Plan pinned by tests/test_plans.py::test_knn_ivf_candidates_are_equi_join."""
    e = table(spark, sf_dir, "embeddings", spread=True)
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda ac, x: ac + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(F.col(c), lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    v = e.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    ).select("vec_id", "label", "emb", norm("emb").alias("nrm"))
    cent = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )
    wcell = W.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cell"))

    def _rank_cells(rows: DataFrame) -> DataFrame:
        scored_cells = rows.join(F.broadcast(cent)).select(
            "vec_id",
            "label",
            "cell",
            "emb",
            "nrm",
            (dot("emb", "cemb") / (F.col("nrm") * F.col("cnrm"))).alias("cos"),
        )
        return scored_cells.withColumn("rnk", F.row_number().over(wcell))

    assign = _rank_cells(v).filter(F.col("rnk") == 1).select(
        "vec_id",
        F.col("label").alias("nlabel"),
        "cell",
        F.col("emb").alias("nemb"),
        F.col("nrm").alias("nnrm"),
    )
    # probe ranking runs on the FILTERED query side only — ranking the
    # whole corpus again just to keep 5 queries' rows would double the
    # centroid dot-product work (measured: ~0.4 s of the 1.4 s at sf0.1)
    probes = _rank_cells(v.filter(F.col("vec_id") < 5)).filter(F.col("rnk") <= 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        "cell",
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        probes.join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("nid"),
            "nlabel",
            (dot("qemb", "nemb") / (F.col("qnrm") * F.col("nnrm"))).alias("cos"),
        )
    )
    rk = F.row_number().over(W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nid")))
    votes = (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= 10)
        .groupBy("query_id", "query_label", "nlabel")
        .agg(F.count("*").alias("n"))
    )
    vr = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("n"), F.asc("nlabel"))
    )
    return (
        votes.withColumn("vr", vr)
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("query_label").cast("int"),
            F.col("nlabel").cast("int").alias("pred_label"),
            F.col("n").alias("votes"),
        )
        .orderBy("query_id")
    )


# --- ev09: time-weighted average over irregular samples ---------------------
@query(
    "ev09_time_weighted_avg",
    oracle="""
    WITH s AS (
        SELECT user_id, value, epoch_us(ts) AS t,
               lead(epoch_us(ts)) OVER w AS t2,
               lead(value) OVER w AS v2
        FROM events
        -- order in the MICROSECOND domain: Spark's ts is us-truncated, so
        -- sub-us ties must fall to event_id identically on both sides
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), seg AS (
        SELECT user_id, t2 - t AS w, (value + v2) / 2 * (t2 - t) AS contrib
        FROM s WHERE t2 IS NOT NULL
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(w) AS BIGINT) AS total_us,
           round(sum(contrib) / sum(w), 6) AS twa
    FROM seg GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("events", "timeseries", "window", "pipeline"),
)
def ev09_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over IRREGULARLY sampled event values — the
    TSDB aggregate (TimescaleDB's time_weight) a plain AVG gets wrong
    whenever sampling density correlates with the value: each adjacent
    pair contributes its trapezoid (mean of endpoints x microseconds
    between them), normalized by total covered time.

    Scale: one user_id-partitioned window (two lead() columns share one
    sort), then a partial-aggregated groupBy on the same key —
    Catalyst reuses the exchange, so the whole aggregate is one shuffle.
    Interval weights stay exact int64 microseconds; only the trapezoid
    products are floats, and the final ratio rounds at 6 dp, far above
    summation-order noise."""
    e = table(spark, sf_dir, "events", spread=True)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    s = e.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("t2"),
        F.lead("value").over(w).alias("v2"),
    ).filter(F.col("t2").isNotNull())
    seg = s.select(
        "user_id",
        (F.col("t2") - F.col("t")).alias("dw"),
        ((F.col("value") + F.col("v2")) / 2 * (F.col("t2") - F.col("t"))).alias("contrib"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("dw").alias("total_us"),
            F.round(F.sum("contrib") / F.sum("dw"), 6).alias("twa"),
        )
        .orderBy("user_id")
    )


# --- q41: recursive CTE month spine -----------------------------------------
_Q41_SPARK = """
WITH RECURSIVE bounds AS (
    SELECT CAST(date_trunc('MONTH', MIN(o_orderdate)) AS DATE) AS m0,
           CAST(date_trunc('MONTH', MAX(o_orderdate)) AS DATE) AS m1
    FROM {orders}
), months AS (
    SELECT m0 AS m, m1 FROM bounds
    UNION ALL
    SELECT add_months(m, 1), m1 FROM months WHERE m < m1
), mc AS (
    SELECT CAST(date_trunc('MONTH', o_orderdate) AS DATE) AS m,
           COUNT(*) AS n, SUM(o_totalprice) AS rev
    FROM {orders}
    GROUP BY CAST(date_trunc('MONTH', o_orderdate) AS DATE)
)
SELECT date_format(months.m, 'yyyy-MM') AS month,
       CAST(COALESCE(mc.n, 0) AS BIGINT) AS n_orders,
       ROUND(COALESCE(mc.rev, 0.0), 2) AS revenue
FROM months LEFT JOIN mc ON mc.m = months.m
ORDER BY month
"""


@query(
    "q41_recursive_cte_spine",
    oracle="""
    WITH RECURSIVE bounds AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS m0,
               CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS m1
        FROM orders
    ), months AS (
        SELECT m0 AS m, m1 FROM bounds
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE), m1 FROM months WHERE m < m1
    ), mc AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               COUNT(*) AS n, SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1
    )
    SELECT strftime(months.m, '%Y-%m') AS month,
           CAST(COALESCE(mc.n, 0) AS BIGINT) AS n_orders,
           round(COALESCE(mc.rev, 0.0), 2) AS revenue
    FROM months LEFT JOIN mc ON mc.m = months.m
    ORDER BY month
    """,
    tags=("relational", "recursive-cte"),
)
def q41_recursive_cte_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (SQL:1999 7.13, Spark 4.0+): a complete month spine
    between the first and last order date — the reporting shape that makes
    zero-activity months appear — generated by the recursive CTE, then a
    LEFT JOIN against the monthly aggregate. The recursion is
    bounded-depth (one row per month) and driver-cheap: all the data-scale
    work stays in the one map-side-combined GROUP BY; the spine is a
    ~hundred-row dimension that broadcasts."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("q41_orders")
    return spark.sql(_Q41_SPARK.format(orders="q41_orders"))


# --- q44: GROUP BY CUBE ------------------------------------------------------
@query(
    "q44_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS flag,
           COALESCE(l_linestatus, '<all>') AS status,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
               AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, flag, status
    """,
    tags=("relational", "cube", "grouping"),
)
def q44_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — all 2^k grouping combinations in one pass
    (complements q18's ROLLUP and q28's GROUPING SETS): per-(flag,
    status), per-flag, per-status and grand-total counts with the
    GROUPING() bitmask disambiguating real NULLs from subtotal rows.
    One shuffle; Spark expands the cube map-side so partial aggregation
    still bounds the exchange at (groups x 4) rows."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("q44_lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, '<all>') AS flag,
               COALESCE(l_linestatus, '<all>') AS status,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
                   AS gid,
               COUNT(*) AS n,
               SUM(CAST(l_quantity AS BIGINT)) AS qty
        FROM q44_lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY gid, flag, status
        """
    )


# --- q43: bag-semantics set operations ---------------------------------------
@query(
    "q43_set_ops_all",
    oracle="""
    WITH a AS (SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q
               FROM lineitem WHERE l_orderkey % 2 = 0 AND l_orderkey < 2000),
    b AS (SELECT l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q
          FROM lineitem WHERE l_orderkey % 3 = 0 AND l_orderkey < 2000),
    i AS (SELECT f, q FROM a INTERSECT ALL SELECT f, q FROM b),
    e AS (SELECT f, q FROM a EXCEPT ALL SELECT f, q FROM b)
    SELECT 'intersect_all' AS op, f, CAST(q AS BIGINT) AS q,
           CAST(count(*) AS BIGINT) AS n
    FROM i GROUP BY f, q
    UNION ALL
    SELECT 'except_all', f, q, CAST(count(*) AS BIGINT) FROM e GROUP BY f, q
    ORDER BY op, f, q
    """,
    tags=("relational", "set-ops"),
)
def q43_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations — INTERSECT ALL / EXCEPT ALL keep
    duplicate multiplicities (min / difference of per-row counts), the
    surface q25's DISTINCT set ops don't touch. Grouped counts make the
    multiplicities themselves part of the hash. One shuffle per set op
    (Spark plans both as aggregates over a union-with-counts)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    a = li.filter(F.col("l_orderkey") % 2 == 0).select(
        F.col("l_returnflag").alias("f"), F.col("l_quantity").cast("long").alias("q")
    )
    b = li.filter(F.col("l_orderkey") % 3 == 0).select(
        F.col("l_returnflag").alias("f"), F.col("l_quantity").cast("long").alias("q")
    )
    i = (
        a.intersectAll(b)
        .groupBy("f", "q")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "f", "q", "n")
    )
    e = (
        a.exceptAll(b)
        .groupBy("f", "q")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "f", "q", "n")
    )
    return i.unionAll(e).orderBy("op", "f", "q")


# --- ev10: first-touch attribution ------------------------------------------
@query(
    "ev10_first_touch_attribution",
    oracle="""
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                      event_type FROM events),
    cand AS (
        SELECT p.event_id AS purchase_id, p.user_id,
               epoch_us(p.ts) AS purchase_us,
               epoch_us(c.ts) AS click_us, c.event_id AS click_id
        FROM e p JOIN e c
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    )
    SELECT CAST(purchase_id AS BIGINT) AS purchase_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(purchase_us AS BIGINT) AS purchase_us,
           CAST(click_us AS BIGINT) AS first_click_us,
           CAST(click_id AS BIGINT) AS first_click_id
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY purchase_id ORDER BY click_us, click_id
        ) AS rk FROM cand
    ) WHERE rk = 1
    ORDER BY purchase_id
    """,
    tags=("events", "attribution", "window"),
)
def ev10_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase credits the EARLIEST click
    in its preceding hour (ev05 finds all candidate clicks; this picks
    the marketing-attribution winner with deterministic microsecond +
    event_id tie-breaks — the µs domain because Spark's timestamps are
    µs-truncated while the parquet is ns).

    Scale: the candidate range join hashes on user_id (AQE turns the
    interval predicate into a post-join filter); the per-purchase argmin
    window partitions on purchase_id — both corpus-scale exchanges are
    on high-cardinality keys, no serial stage."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cuid"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("click_id"),
    )
    cand = p.join(
        c,
        (F.col("cuid") == F.col("user_id"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") <= F.col("pts")),
    ).select(
        "purchase_id",
        "user_id",
        F.unix_micros("pts").alias("purchase_us"),
        F.unix_micros("cts").alias("click_us"),
        "click_id",
    )
    rk = F.row_number().over(
        W.partitionBy("purchase_id").orderBy("click_us", "click_id")
    )
    return (
        cand.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "purchase_id",
            "user_id",
            "purchase_us",
            F.col("click_us").alias("first_click_us"),
            F.col("click_id").alias("first_click_id"),
        )
        .orderBy("purchase_id")
    )


# --- pl08: concat-and-chunk sequence packing --------------------------------
def _pl08_oracle() -> str:
    from xarray_sql_spark.queries.bpe_tokenizer import bpe_doc_counts_ctes

    return f"""
    WITH {bpe_doc_counts_ctes()},
    toks AS (
        SELECT d.doc_id, d.source, t.n_tok
        FROM documents d JOIN doc_tok t USING (doc_id)
    ), packed AS (
        SELECT source, doc_id, n_tok,
               (sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
                - n_tok) // 2048 AS bin
        FROM toks
    )
    SELECT source, CAST(bin AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM packed GROUP BY source, bin ORDER BY source, bin
    """


@query(
    "pl08_sequence_packing",
    oracle=_pl08_oracle(),
    tags=("sampling", "packing", "pipeline"),
)
def pl08_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard way training
    examples are assembled from documents (concatenate in a deterministic
    order, cut every 2048 tokens): each doc's bin is its START offset in
    the per-source token stream divided by the context length, via a
    running prefix sum. Since round 10 the counts are REAL subword
    counts from the trained ts19 tokenizer (the r9 verdict's "re-prove
    pl08 on real counts"), not the earlier whitespace proxy: per-doc
    n_tok = the shared bpe_doc_counts per-document subword counts (one
    memoized training per process/sf feeds ts19/pl08/pl10/ts13/pl16).

    Scale: packing is PER SOURCE (the per-shard packing real pipelines
    do), so the prefix-sum window partitions on source — one hash
    exchange, no global serial window (contrast pl06, which demonstrates
    the fully-global distributed prefix sum when a single stream is
    required). The token-count stage is the ts19 apply shape (word-key
    equi-join against the Heaps-sublinear vocabulary map, AQE
    broadcast). Integer arithmetic end to end; docs with no words drop
    on both engines (no words to pack)."""
    from xarray_sql_spark.queries.bpe_tokenizer import bpe_doc_counts

    # source rides the count aggregate's explode (pure function of the
    # doc row) instead of a doc_id join-back against a second documents
    # scan — same rows, one scan and one join fewer (r15 §2.3).
    toks = bpe_doc_counts(spark, sf_dir, "source")
    packed = toks.withColumn(
        "bin", F.expr("(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok) DIV 2048")
    )
    return (
        packed.groupBy("source", F.col("bin").cast("int").alias("bin"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "bin")
    )


# --- ts08: rare-trigram quality score ---------------------------------------
@query(
    "ts08_rare_trigram_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, lower(text) AS t FROM documents WHERE length(text) >= 3
    ), tri AS (
        SELECT doc_id, substring(t, CAST(s.i AS INT), 3) AS g
        FROM t, LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) s
    ), counts AS (
        SELECT g, count(*) AS cnt FROM tri GROUP BY g
    )
    SELECT CAST(tri.doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_tri,
           CAST(count(*) FILTER (WHERE c.cnt < 5) AS BIGINT) AS n_rare,
           CAST(count(*) FILTER (WHERE c.cnt < 5) AS DOUBLE) / count(*)
               AS rare_ratio
    FROM tri JOIN counts c ON c.g = tri.g
    GROUP BY tri.doc_id ORDER BY doc_id
    """,
    tags=("text", "quality", "pipeline"),
)
def ts08_rare_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring without a model: the fraction of a
    document's character trigrams that are RARE in the corpus (count < 5)
    — the cheap statistical stand-in for LM-based quality filters, high
    ratio = gibberish/noise. Integer counts and one final division keep
    it bit-deterministic cross-engine.

    Scale: the trigram count table is BOUNDED by the alphabet cubed
    (<= ~1e6 distinct keys for printable text at ANY corpus size), so the
    per-trigram aggregate map-side-combines into a tiny table that
    BROADCASTS back to the exploded doc-trigram stream — the per-doc
    rescan never shuffles on the trigram key. The only corpus-scale
    exchange is the final per-doc aggregate. (Round-7 measured
    alternative: collapsing to per-(doc, trigram) counts first scans the
    text once but adds a corpus-scale shuffle on the pair key — 7%
    slower at the sf1 probe and strictly more shuffle bytes at 100 TB
    than this shape's second columnar scan; rejected.)"""
    d = (
        table(spark, sf_dir, "documents", spread=True)
        .select("doc_id", F.lower("text").alias("t"))
        .filter(F.length("t") >= 3)
    )
    tri = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - 2),
                lambda i: F.substring(F.col("t"), i, F.lit(3)),
            )
        ).alias("g"),
    )
    counts = tri.groupBy("g").agg(F.count("*").alias("cnt"))
    return (
        tri.join(F.broadcast(counts), "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tri"),
            F.sum(F.when(F.col("cnt") < 5, 1).otherwise(0)).alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_tri",
            "n_rare",
            (F.col("n_rare").cast("double") / F.col("n_tri")).alias("rare_ratio"),
        )
        .orderBy("doc_id")
    )


# --- q42: map type + higher-order map functions -----------------------------
@query(
    "q42_map_funcs",
    oracle="""
    WITH lines AS (
        SELECT l_orderkey, l_linenumber, sum(l_quantity) AS qty
        FROM lineitem WHERE l_orderkey < 200
        GROUP BY l_orderkey, l_linenumber
    ), odd AS (
        SELECT l_orderkey,
               CAST(count(*) FILTER (WHERE l_linenumber % 2 = 1) AS INT)
                   AS msize
        FROM lines GROUP BY l_orderkey
    )
    SELECT CAST(li.l_orderkey AS BIGINT) AS l_orderkey,
           CAST(li.l_linenumber AS INT) AS k,
           li.qty * 2.0 + li.l_linenumber AS v,
           o.msize
    FROM lines li JOIN odd o ON o.l_orderkey = li.l_orderkey
    WHERE li.l_linenumber % 2 = 1
    ORDER BY l_orderkey, k
    """,
    tags=("relational", "map", "higher-order"),
)
def q42_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP type + higher-order map functions (map_from_entries /
    map_filter / transform_values / size / explode-of-map), verified
    against a map-free relational oracle — engines disagree on map
    STRING formats, so the map is exploded back to flat rows before the
    hash. Per order: line->total-quantity map (pre-aggregated: this
    fixture repeats line numbers, and quantities are integral so the
    sum is exact in any order), keep odd line numbers, transform
    v -> qty*2 + k. Two partial/final shuffles on the same order key;
    the map ops are all JVM expression work on the grouped rows."""
    li = table(spark, sf_dir, "lineitem", spread=True).filter(
        F.col("l_orderkey") < 200
    )
    lines = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum("l_quantity").alias("qty")
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("k"),
                        F.col("qty").alias("v"),
                    )
                )
            )
        ).alias("m")
    )
    modd = F.map_filter(F.col("m"), lambda k, v: k % 2 == 1)
    derived = per_order.select(
        "l_orderkey",
        F.transform_values(modd, lambda k, v: v * 2.0 + k).alias("m2"),
        F.size(modd).cast("int").alias("msize"),
    )
    return (
        derived.select(
            "l_orderkey", F.explode("m2").alias("k", "v"), "msize"
        )
        .select("l_orderkey", F.col("k").cast("int").alias("k"), "v", "msize")
        .orderBy("l_orderkey", "k")
    )


# --- pl07: temperature-based mixture sampling quotas ------------------------
@query(
    "pl07_mixture_quotas",
    oracle="""
    WITH c AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ), w AS (
        SELECT source, n_docs,
               CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT)
                   AS weight
        FROM c
    ), t AS (SELECT sum(weight) AS total_w FROM w)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, weight,
           CAST((100000 * weight) // total_w AS BIGINT) AS quota
    FROM w, t ORDER BY source
    """,
    tags=("sampling", "pipeline", "mixture"),
)
def pl07_mixture_quotas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling quotas (the mC4/XLM-R alpha-
    sampling rule, alpha = 0.5): per-source sampling weight proportional
    to n^alpha, flattening the source distribution so low-resource
    sources are over-sampled relative to their share. Deterministic
    cross-engine by construction: sqrt is IEEE correctly rounded on both
    engines, the weight is floored to integer micro-units immediately
    (one float op, no accumulated error), and the quota split of the
    100k-example budget is pure bigint arithmetic — no float sum whose
    accumulation order could differ.

    Scale: one map-side-combined GROUP BY over the corpus; the weight
    and quota arithmetic runs on the |sources|-row aggregate (the
    unpartitioned window holds only those rows — bounded, like pl06's
    bucket-subtotal table)."""
    counts = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )
    w = counts.withColumn(
        "weight",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(1000000.0)).cast("long"),
    )
    w = w.withColumn("total_w", F.sum("weight").over(W.partitionBy()))
    return (
        w.select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "weight",
            F.expr("(100000 * weight) DIV total_w").alias("quota"),
        )
        .orderBy("source")
    )


# --- ts07: PII detection + redaction ----------------------------------------
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+\d{1,2}-\d{3}-\d{4}"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@query(
    "ts07_pii_redact",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CASE CAST(doc_id % 4 AS INT)
                   WHEN 1 THEN text || ' contact [EMAIL] or call [PHONE]'
                   WHEN 3 THEN text || ' from [IP]'
                   ELSE text END AS redacted,
               CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS n_emails,
               CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS n_phones,
               CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS n_ips
        FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_emails AS INT) AS n_emails,
           CAST(n_phones AS INT) AS n_phones,
           CAST(n_ips AS INT) AS n_ips,
           md5(redacted) AS redacted_digest
    FROM m ORDER BY doc_id
    """,
    tags=("text", "pii", "pipeline"),
)
def ts07_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction, the safety-filter stage of a training
    pipeline: regex-count and regex-replace emails, phone numbers and
    IPv4 addresses, JVM-side (regexp_count / regexp_replace — no Python
    in the loop, embarrassingly parallel, zero shuffle).

    Differential honesty: PII spans are PLANTED into the fixture by
    doc_id arithmetic (emails+phones into doc_id%4==1, IPs into
    doc_id%4==3 — the base corpus contains no digits or '@', verified),
    and the operator finds them ONLY by running the real regexes over
    the text; the oracle regenerates counts and the redacted text from
    the planting rule without any regex — a hash match proves detection
    and replacement are exact (the mm01 planted-header pattern applied
    to text)."""
    # spread=True: the PII regex cascade is the per-row hot loop
    # (measured 1.04 -> 0.55 s at sf0.1, r14 triage; layout-gated
    # no-op on real multi-row-group data).
    d = table(spark, sf_dir, "documents", spread=True)
    did = F.col("doc_id")
    planted = (
        F.when(
            did % 4 == 1,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com or call +1-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        )
        .when(
            did % 4 == 3,
            F.concat(
                F.col("text"),
                F.lit(" from 192.168."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 7) % 256).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
    )
    p = d.select("doc_id", planted.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), F.lit(_EMAIL_RE), F.lit("[EMAIL]")),
            F.lit(_PHONE_RE),
            F.lit("[PHONE]"),
        ),
        F.lit(_IP_RE),
        F.lit("[IP]"),
    )
    return (
        p.select(
            "doc_id",
            F.regexp_count(F.col("t"), F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
            F.regexp_count(F.col("t"), F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
            F.regexp_count(F.col("t"), F.lit(_IP_RE)).cast("int").alias("n_ips"),
            F.md5(redacted.cast("binary")).alias("redacted_digest"),
        )
        .orderBy("doc_id")
    )


# --- ss09: product quantization (PQ) — codebooks, codes, ADC top-k ----------
_PQ_M, _PQ_SUBDIM, _PQ_K = 2, 32, 4  # 64-dim vecs -> 2 subvectors x 4 codes
_PQ_QUERIES = (10, 200, 390)
_PQ_D2_SQL = (
    "list_sum(list_transform(range(1, {n} + 1), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


_PQ_CTES = f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    sub AS (
        SELECT vec_id, 0 AS s, emb[1:{_PQ_SUBDIM}] AS se FROM v
        UNION ALL
        SELECT vec_id, 1 AS s, emb[{_PQ_SUBDIM + 1}:{2 * _PQ_SUBDIM}] AS se FROM v
    ),
    seeds AS (SELECT s, vec_id AS j, se AS ce FROM sub WHERE vec_id < {_PQ_K}),
    a1 AS (
        SELECT sub.vec_id, sub.s, sub.se, sd.j,
               row_number() OVER (
                   PARTITION BY sub.vec_id, sub.s
                   ORDER BY {_PQ_D2_SQL.format(n=_PQ_SUBDIM, a="sub.se", b="sd.ce")}, sd.j
               ) AS rn
        FROM sub JOIN seeds sd ON sd.s = sub.s
    ),
    mem AS (SELECT vec_id, s, j, se FROM a1 WHERE rn = 1),
    cbe AS (
        SELECT s, j, dim, round(avg(val), 4) AS val
        FROM (SELECT s, j, generate_subscripts(se, 1) AS dim, unnest(se) AS val
              FROM mem)
        GROUP BY s, j, dim
    ),
    cb AS (SELECT s, j, list(val ORDER BY dim) AS ce FROM cbe GROUP BY s, j),
    cbf AS (
        SELECT sd.s, sd.j, COALESCE(cb.ce, sd.ce) AS ce
        FROM seeds sd LEFT JOIN cb ON cb.s = sd.s AND cb.j = sd.j
    ),
    enc AS (
        SELECT sub.vec_id, sub.s, c.j,
               row_number() OVER (
                   PARTITION BY sub.vec_id, sub.s
                   ORDER BY {_PQ_D2_SQL.format(n=_PQ_SUBDIM, a="sub.se", b="c.ce")}, c.j
               ) AS rn
        FROM sub JOIN cbf c ON c.s = sub.s
    ),
    codes AS (SELECT vec_id, s, j FROM enc WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, s, se AS qe FROM sub
          WHERE vec_id IN {_PQ_QUERIES}),
    dtab AS (
        SELECT q.query_id, q.s, c.j,
               round({_PQ_D2_SQL.format(n=_PQ_SUBDIM, a="q.qe", b="c.ce")}, 6) AS d2
        FROM q JOIN cbf c ON c.s = q.s
    ),
    adc AS (
        SELECT d.query_id, codes.vec_id, round(sum(d.d2), 6) AS adc
        FROM codes JOIN dtab d ON d.s = codes.s AND d.j = codes.j
        GROUP BY d.query_id, codes.vec_id
    )"""


from xarray_sql_spark.registry import register_train_cache as _rtc

_PQ_TRAIN_CACHE: dict = _rtc({})


def _pq_dj_pairs(se_col, books):
    """(d2, j) struct array over every centroid in ``books``, spelled as
    ONE nested-array literal + an indexed ``transform`` instead of one
    literal fold subtree per centroid. Per element the arithmetic is the
    identical zip_with/aggregate op order (bit-identical doubles); what
    shrinks is the EXPRESSION TREE — k centroids of d dims collapse from
    k*(d + fold) analyzer nodes into two Literal nodes + one lambda,
    which cut ss14's driver-side plan-construction share from ~2.5 s to
    ~1.5 s per build (r15 opt round; the fn-per-rep analysis cost the
    verify notes flag for pl23 applies to every deep-literal family)."""
    js = sorted(books)
    cl = F.lit([[float(c) for c in books[j]] for j in js])
    jl = F.lit([int(j) for j in js])
    return F.transform(
        cl,
        lambda ce, i: F.struct(
            F.aggregate(
                F.zip_with(se_col, ce, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ).alias("d"),
            F.get(jl, i).cast("long").alias("j"),
        ),
    )


def _sq_fold(qe, ce) -> float:
    """aggregate(zip_with(qe, ce, (x-y)*(x-y)), 0.0, acc+z) as driver-side
    IEEE doubles — the identical index-ordered fold Spark executes."""
    acc = 0.0
    for x, y in zip(qe, ce):
        d = x - y
        acc = acc + d * d
    return acc


def _spark_round6(v: float) -> float:
    """Spark's round(double, 6): decimal-string BigDecimal, HALF_UP.

    Spark parses the double's ``Double.toString`` digits; this parses
    Python's ``repr(double)``, so it relies on the two printing the same
    digit string. Both print the shortest round-trip string from JDK 19 on;
    older JDKs sometimes print a longer one, and a HALF_UP tie at the 6th
    decimal could then round differently. Re-run the pin test
    ``tests/test_round16_ops.py::test_pq_dtab_driver_matches_spark_job``
    on any JVM upgrade."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _pq_argmin_j(se_col, books):
    """Nearest centroid as a projection: min over literal (d2, j) structs
    — same (distance, j) tie-break as a min_by."""
    return F.array_sort(_pq_dj_pairs(se_col, books))[0]["j"]


def _pq_serve(
    v: DataFrame, cbf: dict, dtab: dict, extra: dict | None = None
) -> DataFrame:
    """PQ serving: encode + ADC as two stacked projections over the corpus
    scan — zero joins, zero shuffles; codebook and distance tables ride as
    literals (the ss05 k-row centroid contract). ``extra`` columns (e.g.
    ss14's IVF cell id) are computed in the SAME projection and carried
    through, keeping the composed pipeline map-only."""
    sub0 = F.slice("emb", 1, _PQ_SUBDIM)
    sub1 = F.slice("emb", _PQ_SUBDIM + 1, _PQ_SUBDIM)
    seed_js = sorted({j for (_s, j) in cbf})
    queries_present = sorted({q for (q, _s, _j) in dtab})
    extra = extra or {}
    # j values are positions in the sorted seed-id list (argmin emits the
    # literal j id); with a full seed set these coincide with 0..k-1.
    j_pos = {j: i for i, j in enumerate(seed_js)}
    codes = v.select(
        "vec_id",
        *[c.alias(name) for name, c in extra.items()],
        _pq_argmin_j(sub0, {j: cbf[(0, j)] for j in seed_js}).alias("j0"),
        _pq_argmin_j(sub1, {j: cbf[(1, j)] for j in seed_js}).alias("j1"),
    )
    pos0 = sum(
        (F.col("j0") == j).cast("int") * j_pos[j] for j in seed_js
    ) if seed_js != list(range(len(seed_js))) else F.col("j0").cast("int")
    pos1 = sum(
        (F.col("j1") == j).cast("int") * j_pos[j] for j in seed_js
    ) if seed_js != list(range(len(seed_js))) else F.col("j1").cast("int")
    # distance table as ONE nested literal (queries x subvectors x codes)
    # + indexed transform — _pq_dj_pairs' tree-size rule; values and the
    # round(+) op order are unchanged, so every adc double is identical
    dl = F.lit([
        [[float(dtab[(q, s, j)]) for j in seed_js] for s in (0, 1)]
        for q in queries_present
    ])
    ql = F.lit([int(q) for q in queries_present])
    per_query = F.transform(
        dl,
        lambda qrow, qi: F.struct(
            F.get(ql, qi).cast("long").alias("query_id"),
            F.round(
                F.get(qrow[0], pos0.cast("int"))
                + F.get(qrow[1], pos1.cast("int")),
                6,
            ).alias("adc"),
        ),
    )
    return codes.select(
        "vec_id", *extra.keys(), F.explode(per_query).alias("qa")
    ).select(
        F.col("qa.query_id").alias("query_id"),
        "vec_id",
        *extra.keys(),
        F.col("qa.adc").alias("adc"),
    )


def _pq_adc(spark: SparkSession, sf_dir: str):
    """ss09/ss10's serving pair: (full-vector table, ADC distance table).
    Thin wrapper over :func:`_pq_train` + :func:`_pq_serve`; an
    untrainable corpus (no seeds or no queries present) degrades to an
    empty ADC table, never a KeyError."""
    v, cbf, dtab = _pq_train(spark, sf_dir)
    if cbf is None:
        empty = v.limit(0).select(
            F.col("vec_id").alias("query_id"), "vec_id", F.lit(0.0).alias("adc")
        )
        return v, empty
    return v, _pq_serve(v, cbf, dtab)


def _pq_train(spark: SparkSession, sf_dir: str):
    """Shared PQ pipeline (ss09/ss10/ss14): train per-subvector codebooks
    (one deterministic Lloyd's iteration, seeds = first k vectors,
    means rounded 1e-4), encode the corpus to nearest-centroid codes,
    and score the query set by Asymmetric Distance Computation.
    Returns ``(v, cbf, dtab)``: the full-vector table, the trained
    codebook, and the per-(query, subvector, code) distance entries —
    the literal tables :func:`_pq_serve` folds into its projection.
    ``(v, None, None)`` when the corpus has no seeds or no queries.

    Scale shape: PQ encode and ADC scoring are MAP-ONLY — the trained
    codebook (m x k = 8 rows) and the per-query distance tables
    (nq x m x k = 24 doubles) are driver-resident literals folded into a
    single projection over the corpus scan, so the embedding column is
    never shuffled; the only exchanges in the whole pipeline are the one
    training aggregate and the callers' top-k windows. Distance
    arithmetic stays in Spark expressions (the same index-ordered
    ``aggregate`` fold everywhere, including the 24-row dtab job) so
    every double is bit-identical to the join-based formulation and to
    the oracle's fold.

    The trained (codebook, dtab) pair is memoized per sf_dir: training
    is fully deterministic (fixed seeds, round-4 means), and a PQ index
    is trained ONCE and served many times, so repeat calls — bench
    medians, the ss09+ss10 pair — pay only the serving projection,
    exactly like a production ADC path."""
    # spread: the serving projection does 8 x 64-dim distance folds per
    # row — heavy enough to repartition when the file layout can't feed
    # the cores (no-op on real multi-row-group data)
    v = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # Memo key is the dataset's content signature (session._file_sig:
    # for a directory of part files it aggregates part count/size/mtime,
    # because the directory's own stat does NOT change when a part is
    # rewritten in place — r7 ADVICE) so an in-process rewrite of the
    # same path retrains instead of serving a stale codebook.
    import os as _os

    from xarray_sql_spark.session import _file_sig

    fp = _os.path.join(sf_dir, "embeddings.parquet")
    cache_key = (sf_dir, _file_sig(fp))
    if cache_key in _PQ_TRAIN_CACHE:
        cbf, dtab = _PQ_TRAIN_CACHE[cache_key]
        return v, cbf, dtab

    # One tiny job: seed + query vectors off the corpus (k + nq rows).
    picked = {
        r["vec_id"]: list(r["emb"])
        for r in v.filter(
            (F.col("vec_id") < _PQ_K) | F.col("vec_id").isin(*_PQ_QUERIES)
        ).collect()
    }

    def half(emb, s):
        return emb[:_PQ_SUBDIM] if s == 0 else emb[_PQ_SUBDIM:]

    # Degrade like the pre-literal DataFrame formulation did: absent seed
    # ids mean fewer codebook entries, absent query ids mean fewer scored
    # queries — never a KeyError.
    seed_js = [j for j in range(_PQ_K) if j in picked]
    queries_present = [q for q in _PQ_QUERIES if q in picked]
    if not seed_js or not queries_present:
        return v, None, None
    seed_books = {
        s: {j: half(picked[j], s) for j in seed_js} for s in (0, 1)
    }
    sub0 = F.slice("emb", 1, _PQ_SUBDIM)
    sub1 = F.slice("emb", _PQ_SUBDIM + 1, _PQ_SUBDIM)

    # Training: seed-nearest assignment rides the scan as a projection;
    # the per-(s, j, dim) means are the pipeline's single aggregate.
    assigned = v.select(
        "vec_id",
        _pq_argmin_j(sub0, seed_books[0]).alias("j0"),
        _pq_argmin_j(sub1, seed_books[1]).alias("j1"),
        sub0.alias("se0"),
        sub1.alias("se1"),
    )
    # r16 (training is now paid on EVERY bench rep, so its cost counts):
    # the means used to come off a posexplode of every subvector element
    # — rows x 2 x 32 generated rows, 1.42 s warm at sf0.1. A
    # 2-rows-per-vector union with 32 per-dimension sum columns
    # aggregates the same values at 1/32nd the generated rows (~0.3 s).
    # round(avg(element_at(...)), 4) stays a SPARK expression — the same
    # Average + Round the exploded formulation used, per dimension;
    # summation-order jitter between the two plans is ~1e-12, far inside
    # the 1e-4 grid budget the registry docstring allots.
    # A 2-struct explode, NOT a union of two selects: union children are
    # separate subtrees, so the scan + argmin projection would execute
    # twice (the pre-r16 posexplode union paid exactly that).
    stacked = assigned.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("s"),
                    F.col("j0").alias("j"),
                    F.col("se0").alias("sub"),
                ),
                F.struct(
                    F.lit(1).alias("s"),
                    F.col("j1").alias("j"),
                    F.col("se1").alias("sub"),
                ),
            )
        ).alias("e")
    ).select("e.s", "e.j", "e.sub")
    trained: dict = {}
    for r in (
        stacked.groupBy("s", "j")
        .agg(
            *[
                F.round(F.avg(F.element_at("sub", i + 1)), 4).alias(f"d{i}")
                for i in range(_PQ_SUBDIM)
            ]
        )
        .collect()
    ):
        trained[(r["s"], r["j"])] = {i: r[f"d{i}"] for i in range(_PQ_SUBDIM)}
    cbf = {
        (s, j): (
            [trained[(s, j)][i] for i in range(_PQ_SUBDIM)]
            if (s, j) in trained
            else list(seed_books[s][j])  # empty cluster keeps its seed
        )
        for s in (0, 1)
        for j in seed_js
    }

    # Per-query ADC lookup tables (24 entries). r16: computed driver-side
    # with Spark's exact operation order and rounding — the index-ordered
    # (x-y)*(x-y) fold is bit-identical IEEE arithmetic, and _spark_round6
    # replicates Round(d, 6): scala BigDecimal(double) goes through the
    # decimal string (Double.toString), then HALF_UP — the same digits
    # Python's shortest-round-trip repr yields at this magnitude. The
    # 24-row Spark job this replaces cost ~0.5 s of pure job-launch
    # latency per training rep (pinned bit-equal to the job formulation
    # by test_round16_ops.test_pq_dtab_driver_matches_spark_job).
    dtab = {
        (int(q), s, int(j)): _spark_round6(
            _sq_fold(half(picked[q], s), cbf[(s, j)])
        )
        for q in queries_present
        for s in (0, 1)
        for j in seed_js
    }
    _PQ_TRAIN_CACHE[cache_key] = (cbf, dtab)
    return v, cbf, dtab


@query(
    "ss09_pq_adc_topk",
    oracle=_PQ_CTES + f""",
    top AS (
        SELECT query_id, vec_id, adc,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc, vec_id) AS rn
        FROM adc
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, adc
    FROM top WHERE rn <= 3 ORDER BY query_id, vec_id
    """,
    tags=("similarity", "quantization", "ann", "pipeline"),
)
def ss09_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end to end — the memory-side ANN scale path
    (IVF cuts candidates, PQ cuts BYTES: a 64-dim float32 vector becomes
    m=2 uint8 codes, 128x smaller): per-subvector codebooks trained with
    one deterministic Lloyd's iteration (seeds = first k vectors, means
    rounded to 1e-4 like ss05 so cross-engine averaging order cannot
    flip a bit), corpus encoded to nearest-centroid codes, queries
    scored by Asymmetric Distance Computation — per (query, subvector)
    a k-entry lookup table of squared L2 to each centroid, approximate
    distance = sum of table entries selected by the stored codes.

    Scale shape: codebooks and the per-query distance tables are tiny
    and BROADCAST everywhere; the corpus is touched by broadcast joins
    plus one partial-aggregating exchange per stage (min_by argmin); at
    serving time only the (m x uint8) code columns are resident — the
    embedding column is never shuffled at all. The DuckDB oracle
    replicates training, encoding and ADC arithmetic exactly (squared
    L2 as an index-ordered fold, identical rounding ladder).

    Bench note: ~2 s at sf0.1 is the train+encode+score PIPELINE's fixed
    stage-scheduling floor (embeddings are 5000 rows there — compute is
    trivial); per-stage data volume, not stage count, is what grows at
    100 TB."""
    v, adc = _pq_adc(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy("adc", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "vec_id", "adc")
        .orderBy("query_id", "vec_id")
    )


_PQ_SHORTLIST = 16


@query(
    "ss10_pq_rerank",
    oracle=_PQ_CTES + f""",
    short AS (
        SELECT query_id, vec_id, adc,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc, vec_id) AS rn
        FROM adc
    ),
    cand AS (SELECT query_id, vec_id, adc FROM short WHERE rn <= {_PQ_SHORTLIST}),
    qv AS (SELECT vec_id AS query_id, emb AS qe FROM v
           WHERE vec_id IN {_PQ_QUERIES}),
    rer AS (
        SELECT c.query_id, c.vec_id, c.adc,
               round({_PQ_D2_SQL.format(n=2 * _PQ_SUBDIM, a="qv.qe", b="cv.emb")}, 6)
                   AS d2
        FROM cand c
        JOIN v cv ON cv.vec_id = c.vec_id
        JOIN qv ON qv.query_id = c.query_id
    ),
    rtop AS (
        SELECT query_id, vec_id, adc, d2,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, vec_id) AS rn
        FROM rer
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id, d2, adc
    FROM rtop WHERE rn <= 3 ORDER BY query_id, vec_id
    """,
    tags=("similarity", "quantization", "rerank", "ann", "pipeline"),
)
def ss10_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production ANN serving shape (Jégou et
    al. 2011 §IV: IVFADC + exact re-rank): the PQ/ADC stage from ss09
    produces a cheap 16-deep shortlist per query from
    2-byte codes only, then ONLY the shortlisted vec_ids fetch their
    full float vectors for an exact squared-L2 re-rank to top-3. The
    quantization error of the coarse stage cannot reorder the final
    ranking — that is the point of the pattern, and the driver hash
    proves both stages cross-engine.

    Scale: the full-vector column is touched by an equi-join on
    vec_id for shortlist rows ONLY (queries x 16 rows,
    vanishing vs corpus size); the 3-row query-vector table broadcasts.
    Everything upstream is ss09's broadcast-join shape. At 100 TB the
    re-rank join is the classic 'fetch from the vector store' stage,
    keyed and tiny."""
    v, adc = _pq_adc(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy("adc", "vec_id")
    cand = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PQ_SHORTLIST)
        .select("query_id", "vec_id", "adc")
    )
    qv = v.filter(F.col("vec_id").isin(*_PQ_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("qe"), F.col("emb"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ),
        6,
    )
    rer = (
        cand.join(v, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "vec_id", "adc", d2.alias("d2"))
    )
    rw = W.partitionBy("query_id").orderBy("d2", "vec_id")
    return (
        rer.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") <= 3)
        .select("query_id", "vec_id", "d2", "adc")
        .orderBy("query_id", "vec_id")
    )


# --- ss14: IVF x PQ — the full IVFADC serving path ----------------------------
_IVF_CELLS = 8
_IVF_NPROBE = 2
_IVF_D2 = _PQ_D2_SQL.format(n=2 * _PQ_SUBDIM, a="{a}", b="{b}")


@query(
    "ss14_ivfpq_search",
    oracle=_PQ_CTES + f""",
    cent AS (SELECT vec_id AS cell, emb AS cemb FROM v
             WHERE vec_id < {_IVF_CELLS}),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT v.vec_id, cent.cell,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_IVF_D2.format(a="v.emb", b="cent.cemb")},
                                cent.cell
                   ) AS rn
            FROM v CROSS JOIN cent
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cell FROM (
            SELECT v.vec_id AS query_id, cent.cell,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_IVF_D2.format(a="v.emb", b="cent.cemb")},
                                cent.cell
                   ) AS rn
            FROM v CROSS JOIN cent WHERE v.vec_id IN {_PQ_QUERIES}
        ) WHERE rn <= {_IVF_NPROBE}
    ),
    cand AS (
        SELECT a.query_id, a.vec_id, asg.cell, a.adc,
               row_number() OVER (PARTITION BY a.query_id
                                  ORDER BY a.adc, a.vec_id) AS rn
        FROM adc a
        JOIN assign asg ON asg.vec_id = a.vec_id
        JOIN probes p ON p.query_id = a.query_id AND p.cell = asg.cell
    ),
    qv2 AS (SELECT vec_id AS query_id, emb AS qe FROM v
            WHERE vec_id IN {_PQ_QUERIES}),
    rer AS (
        SELECT c.query_id, c.vec_id, c.cell, c.adc,
               round({_IVF_D2.format(a="qv2.qe", b="cv.emb")}, 6) AS d2
        FROM cand c
        JOIN v cv ON cv.vec_id = c.vec_id
        JOIN qv2 ON qv2.query_id = c.query_id
        WHERE c.rn <= {_PQ_SHORTLIST}
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(vec_id AS BIGINT) AS vec_id,
           CAST(cell AS BIGINT) AS cell, d2, adc
    FROM (
        SELECT query_id, vec_id, cell, adc, d2,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, vec_id) AS rn
        FROM rer
    ) WHERE rn <= 3 ORDER BY query_id, vec_id
    """,
    tags=("similarity", "quantization", "ivf", "ann", "pipeline"),
)
def ss14_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE IVFADC serving path (Jégou et al. 2011: inverted
    file + asymmetric distance + exact re-rank) — the production ANN
    index, composed from the individually-proven pieces: ss04's coarse
    quantizer (cells = nearest of {_IVF_CELLS} centroid vectors, here
    by squared L2 to match the PQ metric), queries probe their
    {_IVF_NPROBE} nearest cells, candidates inside probed cells are
    scored by ss09's PQ/ADC code arithmetic, and the
    {_PQ_SHORTLIST}-deep ADC shortlist fetches full vectors for ss10's
    exact re-rank to top-3.

    Scale shape — this is the part that matters at 100 TB: cell
    assignment, PQ encoding, and per-query ADC are ONE map-only
    projection over the corpus scan (centroids, codebooks and distance
    tables are all literal tables; the embedding column never
    shuffles); the IVF restriction is a BROADCAST semi-join against the
    {len(_PQ_QUERIES)} x {_IVF_NPROBE}-row probe table, so non-probed
    cells' rows are dropped before any exchange; the only shuffled rows
    are probed-cell candidates (corpus/cells x nprobe) into the
    shortlist window, and the re-rank join touches full vectors for
    queries x {_PQ_SHORTLIST} rows only. The plan is pinned map-only
    up to the shortlist by tests/test_scalelint.py.

    Bench note: ~2.5 s warm at sf0.1 is the 9-exchange pipeline's fixed
    stage floor plus the coarse-argmin projection (8 centroids x 64-dim
    literal folds per row — JVM-side, embarrassingly parallel; measured
    ~0.7 s over the 5000-row corpus, i.e. per-row expression overhead,
    not a shuffle or a skew). Per-stage data volume is what grows at
    100 TB; the stage count is constant."""
    v, cbf, dtab = _pq_train(spark, sf_dir)
    if cbf is None:
        return v.limit(0).select(
            F.col("vec_id").alias("query_id"),
            "vec_id",
            F.col("vec_id").alias("cell"),
            F.lit(0.0).alias("d2"),
            F.lit(0.0).alias("adc"),
        )
    # coarse centroids as literals: one constant-bounded collect
    # (k = {_IVF_CELLS} rows), the ss05/kmeans contract
    cents = {
        int(r["vec_id"]): [float(x) for x in r["emb"]]
        for r in v.filter(F.col("vec_id") < _IVF_CELLS).collect()
    }
    if not cents:
        return v.limit(0).select(
            F.col("vec_id").alias("query_id"),
            "vec_id",
            F.col("vec_id").alias("cell"),
            F.lit(0.0).alias("d2"),
            F.lit(0.0).alias("adc"),
        )
    cell_col = _pq_argmin_j(F.col("emb"), cents)
    # encode + ADC + cell id in one projection; probe-restrict broadcast
    adc2 = _pq_serve(v, cbf, dtab, extra={"cell": cell_col})
    qv = v.filter(F.col("vec_id").isin(*_PQ_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    probes = qv.select(
        "query_id",
        F.explode(
            F.slice(
                F.array_sort(_pq_dj_pairs(F.col("qe"), cents)),
                1,
                _IVF_NPROBE,
            )
        ).alias("pc"),
    ).select("query_id", F.col("pc.j").alias("cell"))
    cand = adc2.join(F.broadcast(probes), ["query_id", "cell"])
    w_short = W.partitionBy("query_id").orderBy("adc", "vec_id")
    short = (
        cand.withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= _PQ_SHORTLIST)
        .select("query_id", "vec_id", "cell", "adc")
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("qe"), F.col("emb"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ),
        6,
    )
    rer = (
        short.join(v, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "vec_id", "cell", "adc", d2.alias("d2"))
    )
    w_top = W.partitionBy("query_id").orderBy("d2", "vec_id")
    return (
        rer.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 3)
        .select("query_id", "vec_id", "cell", "d2", "adc")
        .orderBy("query_id", "vec_id")
    )


# --- q45: PIVOT (wide reshaping) ---------------------------------------------
_Q45_YEARS = (1995, 1996, 1997, 1998, 1999, 2000, 2001)


@query(
    "q45_pivot",
    oracle="""
    SELECT o_orderpriority AS pri,
    """
    + ",\n    ".join(
        f"CAST(count(*) FILTER (WHERE year(o_orderdate) = {y}) AS BIGINT) AS y{y}_n,\n"
        f"    round(sum(o_totalprice) FILTER (WHERE year(o_orderdate) = {y}), 0) AS y{y}_rev"
        for y in _Q45_YEARS
    )
    + """
    FROM orders GROUP BY o_orderpriority ORDER BY pri
    """,
    tags=("relational", "pivot", "reshape"),
)
def q45_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT — wide reshaping of order counts and revenue by year, one
    column pair per order year, via Spark's native ``pivot`` relational
    operator (the reverse of q35's UNPIVOT). The oracle spells the same
    reshape as conditional aggregation, which is also exactly what
    Catalyst lowers PIVOT to — a single hash aggregate, NOT one scan per
    output column. Revenue sums are integer-rounded per the registry's
    multi-row double-sum convention.

    Scale: one map-side-combinable aggregate over (priority, year); the
    pivot value list is static, so the plan is a plain 35-group hash
    aggregate regardless of table size."""
    o = table(spark, sf_dir, "orders")
    wide = (
        o.select(
            F.col("o_orderpriority").alias("pri"),
            F.year("o_orderdate").alias("yr"),
            "o_totalprice",
        )
        .groupBy("pri")
        .pivot("yr", list(_Q45_YEARS))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 0).alias("rev"),
        )
    )
    cols = [F.col("pri")]
    for y in _Q45_YEARS:
        cols.append(F.coalesce(F.col(f"{y}_n"), F.lit(0)).cast("bigint").alias(f"y{y}_n"))
        cols.append(F.col(f"{y}_rev").alias(f"y{y}_rev"))
    return wide.select(*cols).orderBy("pri")


# --- q46: RANGE window frame (event-time sliding aggregate) -------------------
@query(
    "q46_range_frame",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, epoch_us(ts) AS t_us, value FROM events
    )
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           t_us,
           CAST(count(*) OVER w AS BIGINT) AS n_prev_hour,
           round(sum(value) OVER w, 6) AS sum_prev_hour
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY t_us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
    tags=("relational", "window-frame", "range-frame", "events"),
)
def q46_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame keyed by event time: for every event, the count
    and value sum of the same user's events in the trailing hour — the
    VALUE-based frame (RANGE ... PRECEDING) that ROWS frames cannot
    express when event spacing is irregular. Ordering key is epoch-µs
    (BIGINT) so the frame boundary arithmetic is integer-exact on both
    engines; same-µs ties share a frame by RANGE semantics, so the
    result is deterministic without a tie-break.

    Scale: one exchange on user_id; the frame scan is a sliding
    two-pointer inside each user partition — no self-join (the naive
    event-pairing spelling is O(n²) per user)."""
    e = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        e.select(
            "event_id", "user_id", F.unix_micros("ts").alias("t_us"), "value"
        )
        .select(
            "event_id",
            "user_id",
            "t_us",
            F.count("*").over(w).alias("n_prev_hour"),
            F.round(F.sum("value").over(w), 6).alias("sum_prev_hour"),
        )
        .orderBy("event_id")
    )


# --- ss11: MMR diversified re-rank -------------------------------------------
_MMR_SHORT = 8  # exact shortlist depth feeding the greedy diversity steps


def _mmr_d2(a: str, b: str):
    return F.round(
        F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ),
        6,
    )


_MMR_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    qv AS (SELECT vec_id AS query_id, emb AS qe FROM v
           WHERE vec_id IN {_PQ_QUERIES}),
    scored AS (
        SELECT qv.query_id, v.vec_id, v.emb,
               round({_PQ_D2_SQL.format(n=64, a="qv.qe", b="v.emb")}, 6) AS d2q
        FROM v CROSS JOIN qv
    ),
    cand AS (
        SELECT * FROM (
            SELECT query_id, vec_id, emb, d2q,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY d2q, vec_id) AS rn
            FROM scored)
        WHERE rn <= {_MMR_SHORT}
    ),
    pairs AS (
        SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
               round({_PQ_D2_SQL.format(n=64, a="a.emb", b="b.emb")}, 6) AS dab
        FROM cand a JOIN cand b ON a.query_id = b.query_id
    ),
    s1 AS (SELECT query_id, vec_id, d2q FROM cand WHERE rn = 1),
    c2 AS (
        SELECT c.query_id, c.vec_id, c.d2q,
               0.5 * c.d2q - 0.5 * p.dab AS score
        FROM cand c
        JOIN s1 ON s1.query_id = c.query_id AND c.vec_id <> s1.vec_id
        JOIN pairs p ON p.query_id = c.query_id
                    AND p.va = c.vec_id AND p.vb = s1.vec_id
    ),
    s2 AS (
        SELECT query_id, vec_id, d2q FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score, vec_id) AS rn
            FROM c2)
        WHERE rn = 1
    ),
    c3 AS (
        SELECT c.query_id, c.vec_id, c.d2q,
               0.5 * c.d2q - 0.5 * least(p1.dab, p2.dab) AS score
        FROM cand c
        JOIN s1 ON s1.query_id = c.query_id
        JOIN s2 ON s2.query_id = c.query_id
        JOIN pairs p1 ON p1.query_id = c.query_id
                     AND p1.va = c.vec_id AND p1.vb = s1.vec_id
        JOIN pairs p2 ON p2.query_id = c.query_id
                     AND p2.va = c.vec_id AND p2.vb = s2.vec_id
        WHERE c.vec_id <> s1.vec_id AND c.vec_id <> s2.vec_id
    ),
    s3 AS (
        SELECT query_id, vec_id, d2q FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score, vec_id) AS rn
            FROM c3)
        WHERE rn = 1
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
           CAST(vec_id AS BIGINT) AS vec_id, d2q
    FROM (
        SELECT query_id, 1 AS rank, vec_id, d2q FROM s1
        UNION ALL SELECT query_id, 2, vec_id, d2q FROM s2
        UNION ALL SELECT query_id, 3, vec_id, d2q FROM s3
    ) ORDER BY query_id, rank
"""


@query(
    "ss11_mmr_diversify",
    oracle=_MMR_ORACLE,
    tags=("similarity", "mmr", "rerank", "diversity", "pipeline"),
)
def ss11_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    from an exact top-8 shortlist per query, greedily pick 3 results
    trading relevance against redundancy — score = λ·d2(q,c) −
    (1−λ)·min_{s∈S} d2(c,s) with λ=0.5, minimized, vec_id tie-break.
    The greedy recurrence is unrolled into three explicit relational
    selection rounds (k is a serving-time constant), so BOTH engines
    walk the identical selection sequence; every distance is the same
    index-ordered fold rounded at 1e-6 before any comparison.

    Scale: shortlist generation is ss01's broadcast-query exact scan
    (the 3-row query set is the BNLJ side); everything after operates on
    queries × 8 rows — the pairwise diversity matrix is 64 rows per
    query and joins on (query_id, vec_id), never touching the corpus
    again. The unrolled-k shape is exactly how MMR runs in serving
    (k is small and fixed; the shortlist bounds all pairwise work)."""
    # spread: 3 x 64-dim distance folds per corpus row (cf. _pq_adc)
    v = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    qv = v.filter(F.col("vec_id").isin(*_PQ_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    scored = v.join(F.broadcast(qv)).select(
        "query_id", "vec_id", "emb", _mmr_d2("qe", "emb").alias("d2q")
    )
    w = W.partitionBy("query_id").orderBy("d2q", "vec_id")
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_SHORT)
    )
    # The shortlist (queries x 8 rows) feeds pairs(a), pairs(b), s1 and
    # both greedy rounds — without a cut, every branch would re-run the
    # corpus-wide distance scan. Materialize it once.
    cand = cand.localCheckpoint(eager=True)
    # Everything below operates on constant-bounded frames (|queries| x
    # shortlist and its 64-row/query pair matrix), but the checkpointed
    # RDD carries no size statistics, so unhinted the planner chained 12
    # sort-merge joins (27 exchanges) through the greedy rounds. The
    # hints are size-safe at ANY corpus scale: these frames are bounded
    # by the serving constants, never by data. (r15 opt round: 1.65 ->
    # 1.35 s isolated, plan 27 exchanges -> 7, 12 SMJ -> 0.)
    a, b = cand.alias("a"), cand.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.query_id") == F.col("b.query_id")
    ).select(
        F.col("a.query_id").alias("query_id"),
        F.col("a.vec_id").alias("va"),
        F.col("b.vec_id").alias("vb"),
        _mmr_d2("a.emb", "b.emb").alias("dab"),
    )
    s1 = cand.filter(F.col("rn") == 1).select("query_id", "vec_id", "d2q")

    def pick(prev_sel: list[DataFrame]) -> DataFrame:
        c = cand.select("query_id", "vec_id", "d2q")
        dists = []
        for i, s in enumerate(prev_sel):
            sv = s.select(
                "query_id", F.col("vec_id").alias(f"sv{i}")
            )
            p = pairs.select(
                "query_id",
                F.col("va").alias("vec_id"),
                F.col("vb").alias(f"sv{i}"),
                F.col("dab").alias(f"d{i}"),
            )
            c = c.join(F.broadcast(sv), "query_id").filter(
                F.col("vec_id") != F.col(f"sv{i}")
            ).join(F.broadcast(p), ["query_id", "vec_id", f"sv{i}"])
            dists.append(F.col(f"d{i}"))
        score = 0.5 * F.col("d2q") - 0.5 * F.least(*dists) if len(dists) > 1 else (
            0.5 * F.col("d2q") - 0.5 * dists[0]
        )
        sw = W.partitionBy("query_id").orderBy(score.alias("score"), "vec_id")
        return (
            c.withColumn("srn", F.row_number().over(sw))
            .filter(F.col("srn") == 1)
            .select("query_id", "vec_id", "d2q")
        )

    s2 = pick([s1])
    s3 = pick([s1, s2])
    out = (
        s1.select("query_id", F.lit(1).alias("rank"), "vec_id", "d2q")
        .unionAll(s2.select("query_id", F.lit(2).alias("rank"), "vec_id", "d2q"))
        .unionAll(s3.select("query_id", F.lit(3).alias("rank"), "vec_id", "d2q"))
    )
    return out.select(
        "query_id", F.col("rank").cast("int").alias("rank"), "vec_id", "d2q"
    ).orderBy("query_id", "rank")


# --- q47: anti join ------------------------------------------------------------
@query(
    "q47_anti_join",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_idle_customers,
           round(sum(c.c_acctbal), 2) AS idle_balance
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey ORDER BY nationkey
    """,
    tags=("relational", "anti-join", "subquery"),
)
def q47_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): customers who never placed an order,
    rolled up per nation — the TPC-H Q22 shape, spelled as a LEFT ANTI
    join on the DataFrame side (what Catalyst rewrites the NOT EXISTS
    subquery to).

    Scale: a keyed anti join — the orders side is reduced to its
    distinct custkeys by the join itself (no pre-distinct needed); the
    rollup is map-side combinable over 25 nations."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_idle_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("idle_balance"),
        )
        .orderBy("nationkey")
    )


# --- hh01: heavy hitters (batch twin of the streaming space-saving kernel) ----
_HH_SHARDS = 32
_HH_CAPACITY = 4096
_HH_TOPK = 20


@query(
    "hh01_heavy_hitters",
    oracle=f"""
    WITH c AS (
        -- double-mod = Spark pmod semantics (DuckDB % is sign-preserving,
        -- so a negative user_id would otherwise silently diverge)
        SELECT CAST(((user_id % {_HH_SHARDS}) + {_HH_SHARDS}) % {_HH_SHARDS} AS INT) AS shard,
               CAST(user_id AS VARCHAR) AS entity,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT shard, entity, cnt, CAST(0 AS BIGINT) AS err
    FROM c ORDER BY cnt DESC, entity LIMIT {_HH_TOPK}
    """,
    tags=("events", "sketch", "heavy-hitters", "pipeline"),
)
def hh01_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_HH_TOPK} heavy hitters via the space-saving sketch — the
    BATCH twin of ``streaming.events.heavy_hitters_stream``, running the
    IDENTICAL counter-update state machine
    (``streaming.events.space_saving_update``; Metwally et al. 2005)
    per shard under ``applyInPandas``. Each of the {_HH_SHARDS} shards
    (entity-hash partitioned, so an entity lives in exactly one shard
    and shard tables merge by plain union) keeps at most
    {_HH_CAPACITY} counters; with capacity >= distinct entities per
    shard the sketch is in its EXACT regime (err = 0 for every entry),
    which is what makes a value-level DuckDB oracle possible — the
    eviction/overestimate regime is pinned separately by the Hypothesis
    differential (tests/test_properties.py). A hash match here proves
    the sharding, the kernel plumbing, and the exact-regime claim
    end-to-end.

    Scale: two-level, so NOTHING ever materializes a raw-event group —
    (1) each scan partition folds its rows into per-shard sketch
    tables streamed batch-by-batch through ``mapInPandas`` (memory
    O(shards x capacity) per task, exactly like the streaming state
    store); (2) only the partial SKETCH ROWS (<= partitions x capacity
    per shard, data-size-independent) shuffle on shard for the merge,
    which sums counts/errs and truncates back to capacity. The merge
    preserves cnt >= true_count always and is lossless in the exact
    regime; the final global top-k is a TakeOrderedAndProject over
    <= shards x capacity merged rows, never over raw events."""
    import pandas as pd

    from xarray_sql_spark.streaming.events import space_saving_update

    ev = table(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(_HH_SHARDS)).cast("int").alias("shard"),
        F.col("user_id").cast("string").alias("entity"),
    )

    def _partial(batches):
        # one bounded table per shard, carried ACROSS the partition's
        # Arrow batches — the batch mirror of the streaming state store
        tables: dict[int, dict] = {}
        for pdf in batches:
            for shard, ent in zip(pdf["shard"], pdf["entity"]):
                space_saving_update(
                    tables.setdefault(int(shard), {}), (ent,), _HH_CAPACITY
                )
        rows = [
            (s, k, v[0], v[1])
            for s, tbl in tables.items()
            for k, v in tbl.items()
        ]
        yield pd.DataFrame(
            rows, columns=["shard", "entity", "cnt", "err"]
        )

    def _merge(pdf):
        # input is partial-sketch rows only: <= n_partitions x capacity
        g = (
            pdf.groupby("entity", as_index=False)[["cnt", "err"]]
            .sum()
            .sort_values(["cnt", "entity"], ascending=[False, True])
            .head(_HH_CAPACITY)
            .sort_values("entity")
        )
        g.insert(0, "shard", int(pdf["shard"].iloc[0]))
        return g

    partials = ev.mapInPandas(
        _partial, "shard int, entity string, cnt long, err long"
    )
    sketched = partials.groupBy("shard").applyInPandas(
        _merge, "shard int, entity string, cnt long, err long"
    )
    return sketched.orderBy(F.desc("cnt"), "entity").limit(_HH_TOPK)


# --- hh02: HyperLogLog-style approximate distinct count -----------------------
_HLL_P = 10                      # 2^10 = 1024 registers
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 60 - _HLL_P         # md5-60bit hash minus the register index
# the integer register fold stores 2^(WBITS+1-rho) per register (rho in
# 1..WBITS+1, so the smallest term is exactly 1; empty registers
# contribute 2^(WBITS+1) for rho=0), i.e. S = 2^(WBITS+1) * sum(2^-rho)
_HLL_SCALE = 1 << (_HLL_WBITS + 1)
# alpha_m * m^2 * 2^(WBITS+1) folded into ONE double literal so the final
# estimate is a single integer-by-double division on both engines
_HLL_ALPHA_NUM = (0.7213 / (1.0 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * float(
    _HLL_SCALE
)


@query(
    "hh02_hll_distinct",
    oracle=f"""
    WITH h AS (
        SELECT ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
        FROM events
    ),
    r AS (
        SELECT hv % {_HLL_M} AS reg,
               {_HLL_WBITS + 1} - (CASE WHEN hv // {_HLL_M} = 0 THEN 0
                          ELSE length(bin(hv // {_HLL_M})) END) AS rho
        FROM h
    ),
    regs AS (SELECT reg, max(rho) AS mx FROM r GROUP BY reg),
    agg AS (
        SELECT count(*) AS n_filled,
               CAST(sum(CAST(1 AS BIGINT) << CAST({_HLL_WBITS + 1} - mx AS INT))
                    AS BIGINT) AS sum_pow
        FROM regs
    ),
    ex AS (SELECT count(DISTINCT event_id) AS n_exact FROM events)
    SELECT CAST({_HLL_M} AS INT) AS m,
           CAST({_HLL_M} - n_filled AS BIGINT) AS n_zero,
           CAST(sum_pow + ({_HLL_M} - n_filled)
                * {_HLL_SCALE} AS BIGINT) AS s_sum,
           round({_HLL_ALPHA_NUM!r} / (sum_pow + ({_HLL_M} - n_filled)
                * {_HLL_SCALE}), 3) AS est_hll,
           CAST(n_exact AS BIGINT) AS n_exact,
           round(({_HLL_ALPHA_NUM!r} / (sum_pow + ({_HLL_M} - n_filled)
                * {_HLL_SCALE}) - n_exact)
                * 100.0 / n_exact, 3) AS err_pct
    FROM agg, ex
    """,
    tags=("events", "sketch", "cardinality", "pipeline"),
)
def hh02_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate COUNT DISTINCT via a HyperLogLog-style register sketch
    (Flajolet et al. 2007) built ENTIRELY from engine expressions — the
    cardinality companion to hh01's frequency sketch (reference has
    neither; a 100-TB pipeline counts distinct users/docs constantly).
    The hash is the repo's canonical md5-60bit (both engines agree on
    md5); register index = low {_HLL_P} bits, rho = leading-zero rank of
    the remaining {_HLL_WBITS} bits computed EXACTLY via length(bin(w))
    (Spark bin == DuckDB bin, '0' for zero on both). The estimate keeps
    the classic alpha_m * m^2 / sum(2^-rho) form but scales by
    2^{_HLL_WBITS} so the register fold is an exact BIGINT sum
    (empty registers contribute 2^{_HLL_WBITS}); the only float op is
    ONE constant-by-integer division — bit-identical cross-engine, so
    the sketch itself sits under the hash gate. n_exact rides along so
    the row also WITNESSES the estimate error (err_pct; the
    estimate-regime error bound is pinned by the Hypothesis
    differential in tests/test_properties.py).

    Scale: the sketch is the aggregation — map-side partial max(rho)
    per register means at most {_HLL_M} rows per scan partition reach
    the shuffle regardless of data size (the same rows-shuffled
    invariant as hh01), and the final fold is over {_HLL_M} rows. At
    1000 executors the shuffle moves ~{_HLL_M} x partitions tiny rows;
    the raw event stream never re-partitions. The exact-distinct leg is
    a diagnostic passenger for the gate, not part of the sketch path —
    production drops it (it's the thing the sketch replaces)."""
    m = _HLL_M
    wbits = _HLL_WBITS
    ev = table(spark, sf_dir, "events").select(
        F.expr(
            "CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 15), 16, 10)"
            " AS BIGINT)"
        ).alias("hv")
    )
    r = ev.select(
        (F.col("hv") % m).alias("reg"),
        F.expr(
            f"{wbits + 1} - (CASE WHEN hv DIV {m} = 0 THEN 0"
            f" ELSE length(bin(hv DIV {m})) END)"
        ).alias("rho"),
    )
    regs = r.groupBy("reg").agg(F.max("rho").alias("mx"))
    agg = regs.agg(
        F.count("*").alias("n_filled"),
        F.expr(
            f"sum(shiftleft(CAST(1 AS BIGINT), CAST({wbits + 1} - mx AS INT)))"
        ).alias("sum_pow"),
    )
    ex = table(spark, sf_dir, "events").agg(
        F.countDistinct("event_id").alias("n_exact")
    )
    s_sum = F.col("sum_pow") + (F.lit(m) - F.col("n_filled")) * F.lit(
        _HLL_SCALE
    ).cast("bigint")
    est = F.lit(_HLL_ALPHA_NUM) / s_sum
    return agg.crossJoin(ex).select(
        F.lit(m).cast("int").alias("m"),
        (F.lit(m) - F.col("n_filled")).cast("bigint").alias("n_zero"),
        s_sum.cast("bigint").alias("s_sum"),
        F.round(est, 3).alias("est_hll"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.round((est - F.col("n_exact")) * 100.0 / F.col("n_exact"), 3).alias(
            "err_pct"
        ),
    )


# --- qs01: log-linear quantile sketch vs exact percentile ----------------------
_QS_SIGBITS = 5          # buckets keep the top 5 significant bits
_QS_QUANTILES = (0.5, 0.9, 0.99)


@query(
    "qs01_quantile_sketch",
    oracle=f"""
    WITH v AS (
        SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
        FROM lineitem
    ),
    sk AS (
        SELECT (v >> greatest(length(bin(v)) - {_QS_SIGBITS}, 0))
               << greatest(length(bin(v)) - {_QS_SIGBITS}, 0) AS bucket,
               count(*) AS cnt
        FROM v GROUP BY 1
    ),
    c AS (
        SELECT bucket, cnt,
               sum(cnt) OVER (ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               sum(cnt) OVER () AS n_total
        FROM sk
    ),
    qq AS (SELECT CAST(unnest([{", ".join(map(str, _QS_QUANTILES))}]) AS DOUBLE) AS q),
    est AS (
        SELECT qq.q, c.bucket AS est_lb, c.n_total
        FROM qq, c
        WHERE ceil(qq.q * c.n_total) > c.cum - c.cnt
          AND ceil(qq.q * c.n_total) <= c.cum
    ),
    ex AS (
        SELECT CAST(unnest([{", ".join(map(str, _QS_QUANTILES))}]) AS DOUBLE) AS q,
               unnest(quantile_cont(CAST(v AS DOUBLE),
                      [{", ".join(map(str, _QS_QUANTILES))}])) AS exact_v
        FROM v
    )
    SELECT est.q, CAST(est.n_total AS BIGINT) AS n_rows,
           CAST(est.est_lb AS BIGINT) AS est_lb,
           round(ex.exact_v, 6) AS exact_v,
           round((ex.exact_v - est.est_lb) / ex.exact_v, 4) AS rel_err
    FROM est JOIN ex USING (q) ORDER BY q
    """,
    tags=("lineitem", "sketch", "quantile", "pipeline"),
)
def qs01_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-mergeable quantile sketch: a LOG-LINEAR histogram in the
    DDSketch family (Masson et al., VLDB 2019) with buckets = values
    truncated to their top {_QS_SIGBITS} significant bits — i.e. a
    relative-error guarantee of 2^-{_QS_SIGBITS - 1} (<{2 ** -(_QS_SIGBITS - 1) * 100:.2f}%)
    — built from pure integer engine expressions (length(bin(v)) is the
    exact bit-length on both engines), so unlike percentile_approx the
    sketch itself is deterministic and sits under the hash gate. Input
    is l_extendedprice on an exact integer cent grid via floor(x*100+.5)
    (IEEE-identical cross-engine). Each output row carries the sketch
    answer (bucket lower bound at the ceil(q*n) rank), the EXACT type-7
    percentile as ground truth (Spark percentile == DuckDB
    quantile_cont, q23's proven parity), and the realized relative
    error — the bound itself is asserted by tests and the Hypothesis
    property.

    Scale: the sketch is one map-side-combined groupBy over <=
    {_QS_SIGBITS}-bit x 64-octave buckets (~a few hundred rows
    data-size-independent, same invariant as hh01/hh02); rank selection
    is an array-filter over the tiny cumulated sketch — no theta join,
    no driver collect. Sketches from different partitions/days merge by
    adding counts per bucket (the production rollup path).

    The exact ground-truth percentile is computed by SKETCH-GUIDED
    selection (round 14): the cumulated sketch already pins each target
    rank to one bucket and the rank offset before it, so the second pass
    broadcasts the <= 2*len(quantiles) candidate (bucket, rank) rows,
    joins them into the raw scan — every non-candidate bucket's rows die
    at the join — and ranks only the surviving ~n/2^{_QS_SIGBITS}
    fraction with a per-(q, rank)-partitioned window. This replaces the
    previous ``percentile()`` passenger, whose per-partition value->count
    maps (~one entry per DISTINCT cent price — near |data| here) all
    merged on a single reducer; the guided pass moves only candidate-
    bucket rows and is the classic two-pass distributed selection at
    100 TB. Median 2.5 s -> 1.27 s at sf0.1, byte-identical output."""
    qlist = list(_QS_QUANTILES)
    sig = _QS_SIGBITS
    bucket_expr = (
        f"shiftleft(shiftright(v, greatest(length(bin(v)) - {sig}, 0)),"
        f" greatest(length(bin(v)) - {sig}, 0))"
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("v")
    )
    sk = li.groupBy(F.expr(bucket_expr).alias("bucket")).agg(
        F.count("*").alias("cnt")
    )
    w_cum = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = sk.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_total"),
    )
    # each q lands in exactly one bucket: ceil(q*n) in (cum-cnt, cum] —
    # an array filter over the tiny sketch, not a theta join
    qarr = F.array(*[F.lit(q) for q in qlist])
    est = cum.select(
        F.explode(
            F.filter(
                qarr,
                lambda q: (F.ceil(q * F.col("n_total")) > F.col("cum") - F.col("cnt"))
                & (F.ceil(q * F.col("n_total")) <= F.col("cum")),
            )
        ).alias("q"),
        F.col("bucket").alias("est_lb"),
        "n_total",
    )
    # Sketch-guided exact selection. Type-7 (Spark percentile == DuckDB
    # quantile_cont): 1-indexed h = 1 + (n-1)*q needs the order statistics
    # at ranks floor(h) and ceil(h); the cumulated sketch says which bucket
    # holds each rank (base_rank = cum - cnt rows precede it), so only
    # candidate-bucket rows are ranked. distinct() collapses the integer-h
    # case (floor == ceil) to one candidate row.
    cand = (
        cum.select(F.explode(qarr).alias("q"), "bucket", "cnt", "cum", "n_total")
        .withColumn("h", F.expr("1.0D + (n_total - 1) * q"))
        .select(
            "q",
            "h",
            "bucket",
            (F.col("cum") - F.col("cnt")).alias("base_rank"),
            "cum",
            F.explode(
                F.array(F.floor("h").cast("long"), F.ceil("h").cast("long"))
            ).alias("r"),
        )
        .filter((F.col("r") > F.col("base_rank")) & (F.col("r") <= F.col("cum")))
        .select("q", "h", "bucket", "base_rank", "r")
        .distinct()
    )
    # spread=True on the pass-2 scan: the probe work (bucket expr +
    # broadcast membership + the (q, rank) windows) is the per-row hot
    # loop, and on the single-row-group local testdata it would otherwise
    # run on one core (+0.08 s for the repartition, densest stage 1 -> 32;
    # a no-op on real multi-row-group data — layout-gated in table()).
    li2 = table(spark, sf_dir, "lineitem", spread=True).select(
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("v")
    )
    hits = li2.withColumn("bucket", F.expr(bucket_expr)).join(
        F.broadcast(cand), "bucket"
    )
    # count(*) over a ROWS frame is a dense 1..n within each (q, r) group,
    # so exactly one row lands on lr == r; tied v values may permute the
    # counter among themselves but all carry the same v — selection is
    # deterministic in the VALUE, which is what the hash gate sees.
    wr = W.partitionBy("q", "r").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    ranked = hits.withColumn("lr", F.count("*").over(wr) + F.col("base_rank"))
    sel = (
        ranked.filter(F.col("lr") == F.col("r"))
        .groupBy("q", "h")
        .agg(
            F.min(
                F.when(F.col("r") == F.floor("h").cast("long"), F.col("v"))
            ).alias("v1"),
            F.min(
                F.when(F.col("r") == F.ceil("h").cast("long"), F.col("v"))
            ).alias("v2"),
        )
    )
    ex = sel.select(
        "q",
        (
            F.col("v1") + (F.col("h") - F.floor("h")) * (F.col("v2") - F.col("v1"))
        ).alias("exact_v"),
    )
    return (
        est.join(F.broadcast(ex), "q")
        .select(
            "q",
            F.col("n_total").cast("bigint").alias("n_rows"),
            F.col("est_lb").cast("bigint").alias("est_lb"),
            F.round("exact_v", 6).alias("exact_v"),
            F.round(
                (F.col("exact_v") - F.col("est_lb")) / F.col("exact_v"), 4
            ).alias("rel_err"),
        )
        .orderBy("q")
    )


# --- hh03: count-min sketch — point frequency estimates -------------------------
_CMS_D = 4    # depth: independent salted hash rows
_CMS_W = 512  # width: counters per row
_CMS_TOPK = 20


@query(
    "hh03_countmin",
    oracle=f"""
    WITH rows_ AS (
        SELECT t.r,
               ('0x' || substring(md5(CAST(t.r AS VARCHAR) || '|'
                    || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               % {_CMS_W} AS c
        FROM events, LATERAL (SELECT unnest(range({_CMS_D})) AS r) t
    ),
    sketch AS (SELECT r, c, count(*) AS cnt FROM rows_ GROUP BY r, c),
    truth AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY user_id),
    top AS (SELECT user_id, true_cnt FROM truth
            ORDER BY true_cnt DESC, user_id LIMIT {_CMS_TOPK}),
    keys AS (
        SELECT top.user_id, top.true_cnt, t.r,
               ('0x' || substring(md5(CAST(t.r AS VARCHAR) || '|'
                    || CAST(top.user_id AS VARCHAR)), 1, 15))::BIGINT
               % {_CMS_W} AS c
        FROM top, LATERAL (SELECT unnest(range({_CMS_D})) AS r) t
    ),
    est AS (
        SELECT k.user_id, k.true_cnt, min(s.cnt) AS est_cnt
        FROM keys k JOIN sketch s ON s.r = k.r AND s.c = k.c
        GROUP BY 1, 2
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(true_cnt AS BIGINT) AS true_cnt,
           CAST(est_cnt AS BIGINT) AS est_cnt,
           CAST(est_cnt - true_cnt AS BIGINT) AS overestimate
    FROM est ORDER BY true_cnt DESC, user_id
    """,
    tags=("events", "sketch", "frequency", "pipeline"),
)
def hh03_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) — POINT frequency
    estimates completing the sketch triple (hh01 top-k, hh02
    cardinality, hh03 per-key counts): {_CMS_D} salted md5 hash rows x
    {_CMS_W} counters, estimate = min over the key's {_CMS_D} counters.
    Both engines derive the identical salted-hash placements, so the
    whole sketch — including its collision OVERESTIMATES — is
    reproduced exactly and hash-gated; the row carries the true count
    and the overestimate (>= 0 ALWAYS, the CMS one-sided-error
    invariant the gate witnesses on every probed key; the eviction-free
    additive structure is what lets deletions/decay work at 100 TB
    where hh01's counter table can't subtract).

    Scale: the sketch build is one map-side-combined groupBy capped at
    {_CMS_D} x {_CMS_W} = {_CMS_D * _CMS_W} rows per partition
    regardless of data size (hh01/hh02's rows-shuffled invariant);
    counters merge across partitions/streams by ADDITION (pure
    counts, test-pinned for qs01's histogram — same property). The
    probe side joins {_CMS_TOPK} x {_CMS_D} key rows against the
    BROADCAST sketch; truth is a diagnostic passenger (it's what the
    sketch replaces in production)."""
    w, d = _CMS_W, _CMS_D

    def hcol(r_col, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", r_col.cast("string"), key_col.cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % w
        )

    depth = F.explode(F.array(*[F.lit(r) for r in range(d)])).alias("r")
    # spread=True: 4 salted md5s per event is the hot loop — measured
    # 1.22 -> 0.94 s at sf0.1 when the single-row-group scan is spread
    # (layout-gated no-op on real multi-row-group data).
    ev = table(spark, sf_dir, "events", spread=True).select("user_id")
    sketch = (
        ev.select("user_id", depth)
        .select("r", hcol(F.col("r"), F.col("user_id")).alias("c"))
        .groupBy("r", "c")
        .agg(F.count("*").alias("cnt"))
    )
    truth = ev.groupBy("user_id").agg(F.count("*").alias("true_cnt"))
    w_top = W.orderBy(F.desc("true_cnt"), F.asc("user_id"))
    top = (
        truth.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= _CMS_TOPK)
        .select("user_id", "true_cnt")
    )
    keys = top.select("user_id", "true_cnt", depth).select(
        "user_id", "true_cnt", "r", hcol(F.col("r"), F.col("user_id")).alias("c")
    )
    est = (
        keys.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("true_cnt").cast("bigint").alias("true_cnt"),
        F.col("est_cnt").cast("bigint").alias("est_cnt"),
        (F.col("est_cnt") - F.col("true_cnt")).cast("bigint").alias("overestimate"),
    ).orderBy(F.desc("true_cnt"), "user_id")


# --- qs02: GROUPED quantile sketch — the production rollup shape ----------------
_QS2_QUANTILES = (0.5, 0.9)


@query(
    "qs02_grouped_quantile_sketch",
    oracle=f"""
    WITH v AS (
        SELECT o_orderpriority AS pri,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        FROM orders
    ),
    sk AS (
        SELECT pri,
               (v >> greatest(length(bin(v)) - {_QS_SIGBITS}, 0))
               << greatest(length(bin(v)) - {_QS_SIGBITS}, 0) AS bucket,
               count(*) AS cnt
        FROM v GROUP BY 1, 2
    ),
    c AS (
        SELECT pri, bucket, cnt,
               sum(cnt) OVER (PARTITION BY pri ORDER BY bucket
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               sum(cnt) OVER (PARTITION BY pri) AS n_total
        FROM sk
    ),
    qq AS (SELECT CAST(unnest([{", ".join(map(str, _QS2_QUANTILES))}]) AS DOUBLE) AS q),
    est AS (
        SELECT c.pri, qq.q, c.bucket AS est_lb, c.n_total
        FROM qq, c
        WHERE ceil(qq.q * c.n_total) > c.cum - c.cnt
          AND ceil(qq.q * c.n_total) <= c.cum
    ),
    ex AS (
        SELECT pri,
               CAST(unnest([{", ".join(map(str, _QS2_QUANTILES))}]) AS DOUBLE) AS q,
               unnest(quantile_cont(CAST(v AS DOUBLE),
                      [{", ".join(map(str, _QS2_QUANTILES))}])) AS exact_v
        FROM v GROUP BY pri
    )
    SELECT est.pri AS pri, est.q AS q, CAST(est.n_total AS BIGINT) AS n_rows,
           CAST(est.est_lb AS BIGINT) AS est_lb,
           round(ex.exact_v, 6) AS exact_v,
           round((ex.exact_v - est.est_lb) / ex.exact_v, 4) AS rel_err
    FROM est JOIN ex ON ex.pri = est.pri AND ex.q = est.q
    ORDER BY est.pri, est.q
    """,
    tags=("orders", "sketch", "quantile", "grouped", "pipeline"),
)
def qs02_grouped_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qs01's log-linear sketch in its PRODUCTION shape — per-group
    quantiles (p50/p90 order value by priority) from one grouped
    histogram: the per-(group, bucket) counts are the ONLY
    data-size-dependent state, each group's rank selection runs over
    its own tiny cumulated sketch, and adding a rollup dimension is
    adding a groupBy column, not re-sorting values (the reason every
    metrics warehouse stores sketches, not percentiles). Exact grouped
    type-7 percentiles ride along as ground truth.

    Scale: ONE map-side-combined groupBy on (group, bucket) — at most
    groups x buckets rows shuffle (data-size independent); the cum
    window and rank filter run over sketch rows only; the exact leg is
    the diagnostic passenger the sketch replaces."""
    qlist = list(_QS2_QUANTILES)
    sig = _QS_SIGBITS
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
    )
    sk = (
        o.groupBy(
            "pri",
            F.expr(
                f"shiftleft(shiftright(v, greatest(length(bin(v)) - {sig}, 0)),"
                f" greatest(length(bin(v)) - {sig}, 0))"
            ).alias("bucket"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    w_cum = W.partitionBy("pri").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, 0
    )
    w_all = W.partitionBy("pri")
    cum = sk.select(
        "pri",
        "bucket",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_total"),
    )
    qarr = F.array(*[F.lit(q) for q in qlist])
    est = cum.select(
        "pri",
        F.explode(
            F.filter(
                qarr,
                lambda q: (F.ceil(q * F.col("n_total")) > F.col("cum") - F.col("cnt"))
                & (F.ceil(q * F.col("n_total")) <= F.col("cum")),
            )
        ).alias("q"),
        F.col("bucket").alias("est_lb"),
        "n_total",
    )
    ex = (
        o.groupBy("pri")
        .agg(
            F.expr(
                f"percentile(v, array({', '.join(map(str, qlist))}))"
            ).alias("ep")
        )
        .select("pri", F.posexplode("ep").alias("qi", "exact_v"))
        .select("pri", F.element_at(qarr, F.col("qi") + 1).alias("q"), "exact_v")
    )
    return (
        est.join(F.broadcast(ex), ["pri", "q"])
        .select(
            "pri",
            "q",
            F.col("n_total").cast("bigint").alias("n_rows"),
            F.col("est_lb").cast("bigint").alias("est_lb"),
            F.round("exact_v", 6).alias("exact_v"),
            F.round(
                (F.col("exact_v") - F.col("est_lb")) / F.col("exact_v"), 4
            ).alias("rel_err"),
        )
        .orderBy("pri", "q")
    )


# --- hh04: KMV (k-minimum-values / theta) sketch with set operations ---------
# The fourth sketch family: bottom-k sketches COMPOSE under union and
# difference, which HLL (hh02) cannot do without precision loss — the tool
# for "how much NEW vocabulary does source B add over A" questions a corpus
# dashboard asks per ingest batch. Hashes are 60-bit md5 (the registry-wide
# content-addressed domain), so the sketch, the estimates, and the oracle
# are all fully deterministic.
_KMV_K = 128
_KMV_DOM = float(1 << 60)  # exact as a double (power of two)


def _kmv_est_sql(n: str, mx: str) -> str:
    """Estimator spelled identically on both engines: exact when the
    sketch is unsaturated, else (k-1) * domain / kth_min in ONE multiply
    and ONE divide so IEEE evaluation order matches Spark's."""
    return (
        f"CASE WHEN {n} < {_KMV_K} THEN CAST({n} AS DOUBLE) "
        f"ELSE {_KMV_K - 1}.0 * ({_KMV_DOM!r} / CAST({mx} AS DOUBLE)) END"
    )


@query(
    "hh04_kmv_set_ops",
    oracle=f"""
    WITH w AS (
        SELECT source, string_split(text, ' ') AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
        SELECT source, ws[i] || ' ' || ws[i+1] AS b
        FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t
    ),
    h AS (
        SELECT DISTINCT source,
               ('0x' || substring(md5(b), 1, 15))::BIGINT AS hv
        FROM bg
    ),
    rk AS (
        SELECT source, hv,
               row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        FROM h
    ),
    sk AS (SELECT source, hv FROM rk WHERE rn <= {_KMV_K}),
    per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n, max(hv) AS mx
        FROM sk GROUP BY source
    ),
    nd AS (SELECT source, CAST(count(*) AS BIGINT) AS nd FROM h GROUP BY source),
    ix AS (
        SELECT x.source AS sa, y.source AS sb, CAST(count(*) AS BIGINT) AS ni
        FROM h x JOIN h y ON x.hv = y.hv AND x.source < y.source
        GROUP BY 1, 2
    ),
    uu AS (
        SELECT sa, sb, hv,
               row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn
        FROM (
            SELECT DISTINCT a.source AS sa, b.source AS sb, s.hv
            FROM per a JOIN per b ON a.source < b.source
            JOIN sk s ON s.source = a.source OR s.source = b.source) z
    ),
    up AS (
        SELECT sa, sb, CAST(count(*) AS BIGINT) AS nu, max(hv) AS mxu
        FROM uu WHERE rn <= {_KMV_K} GROUP BY sa, sb
    ),
    est AS (
        SELECT up.sa, up.sb,
               round({_kmv_est_sql('pa.n', 'pa.mx')}, 0) AS ea,
               round({_kmv_est_sql('pb.n', 'pb.mx')}, 0) AS eb,
               round({_kmv_est_sql('up.nu', 'up.mxu')}, 0) AS eu
        FROM up
        JOIN per pa ON pa.source = up.sa
        JOIN per pb ON pb.source = up.sb
    )
    SELECT est.sa AS source_a, est.sb AS source_b,
           CAST(na.nd AS BIGINT) AS exact_a,
           CAST(nb.nd AS BIGINT) AS exact_b,
           CAST(na.nd + nb.nd - COALESCE(ix.ni, 0) AS BIGINT) AS exact_union,
           CAST(COALESCE(ix.ni, 0) AS BIGINT) AS exact_intersect,
           CAST(est.ea AS BIGINT) AS est_a,
           CAST(est.eb AS BIGINT) AS est_b,
           CAST(est.eu AS BIGINT) AS est_union,
           CAST(greatest(0.0, est.ea + est.eb - est.eu) AS BIGINT)
               AS est_intersect
    FROM est
    JOIN nd na ON na.source = est.sa
    JOIN nd nb ON nb.source = est.sb
    LEFT JOIN ix ON ix.sa = est.sa AND ix.sb = est.sb
    ORDER BY source_a, source_b
    """,
    tags=("sketch", "kmv", "theta", "set-ops", "pipeline"),
)
def hh04_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV / theta) distinct sketches over per-source word-bigram
    vocabularies, with the set algebra HLL lacks: per source-pair the union
    sketch is the k smallest of the merged sketches (closed under union, by
    construction), intersection by inclusion-exclusion on the rounded
    estimates. exact_* columns are the accuracy pins (dd09's pattern) — a
    production run drops them; they are NOT inputs to the estimates.

    Scale: the sketch path never globally deduplicates — an Arrow-batched
    mapInPandas keeps a bounded k-min set per source per PARTITION (the
    same bounded-heap shape real sketch libraries use), so the only
    sketch shuffle carries <= k rows per (source, partition) and the
    merge is a collect_set over <= k * n_partitions values per source.
    Union sketches pair 20 source rows of 128 longs — broadcast-trivial
    at any corpus size (sources are a dimension, not data). The exact
    twin (the pin) pays ONE grouped pass over the hashed bigram stream
    (per-hv source sets, fanout bounded by n_sources + C(n_sources, 2)
    per value, both counts off one map-side-combined aggregate); since
    r15 there is no hv self-join and no second distinct pass.

    Estimator: D ~= (k-1) * 2^60 / kth_min_hash; exact when the source
    has fewer than k distinct values (the sketch IS the set)."""
    d = table(spark, sf_dir, "documents")
    ws = d.select("source", F.split("text", " ").alias("ws")).filter(
        F.size("ws") >= 2
    )
    bg = ws.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(element_at(ws, i), ' ',"
                " element_at(ws, CAST(i + 1 AS INT))))"
            )
        ).alias("b"),
    )
    hv = bg.select(
        "source",
        F.conv(F.substring(F.md5("b"), 1, 15), 16, 10).cast("bigint").alias("hv"),
    )

    k = _KMV_K

    def _kmin(batches):
        import pandas as pd

        state: dict[str, list] = {}
        for pdf in batches:
            for src, grp in pdf.groupby("source"):
                merged = set(state.get(src, ())) | set(grp["hv"])
                state[src] = sorted(merged)[:k]
        rows = [(s, v) for s, vs in state.items() for v in vs]
        yield pd.DataFrame(rows, columns=["source", "hv"])

    local = hv.mapInPandas(_kmin, "source string, hv long")
    per = (
        local.groupBy("source")
        .agg(F.slice(F.array_sort(F.collect_set("hv")), 1, k).alias("vals"))
        .select(
            "source",
            "vals",
            F.size("vals").cast("bigint").alias("n"),
            F.element_at("vals", F.size("vals")).alias("mx"),
        )
    )
    a, b = per.alias("a"), per.alias("b")
    uvals = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("a.vals"), F.col("b.vals")))),
        1,
        k,
    )
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("sa"),
        F.col("b.source").alias("sb"),
        F.col("a.n").alias("na"),
        F.col("a.mx").alias("mxa"),
        F.col("b.n").alias("nb"),
        F.col("b.mx").alias("mxb"),
        F.size(uvals).cast("bigint").alias("nu"),
        F.element_at(uvals, F.size(uvals)).alias("mxu"),
    )
    est = pairs.select(
        "sa",
        "sb",
        F.expr(f"round({_kmv_est_sql('na', 'mxa')}, 0)").alias("ea"),
        F.expr(f"round({_kmv_est_sql('nb', 'mxb')}, 0)").alias("eb"),
        F.expr(f"round({_kmv_est_sql('nu', 'mxu')}, 0)").alias("eu"),
    )

    # Exact twin from ONE pass over the hashed bigram stream
    # (optimization r15, guide §2.3 — the old shape re-ran the
    # scan->explode->md5 subtree three more times: a per-source distinct
    # count plus BOTH sides of an hv self-equi-join): group by hv once,
    # collecting each value's source set (dimension-bounded at
    # <= n_sources entries), then explode per-source singles — once
    # keyed on sa and once on sb, so BOTH window directions below see
    # them — plus ordered pairs, and count. Zero-count stubs for pairs
    # that share no hv come from a trivial one-column source-dictionary
    # scan (no split/explode/md5), so every (sa, sb) pair exists and the
    # per-source distinct counts attach as partition windows over the
    # <= n_sources^2-row frame — the exact path's heavy subtree has
    # exactly ONE consumer and the assembly is a single dimension-sized
    # broadcast join into the sketch pairs.
    hs = hv.groupBy("hv").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    )
    singles_a = F.transform(
        "ss",
        lambda s: F.struct(
            s.alias("sa"), F.lit(None).cast("string").alias("sb")
        ),
    )
    singles_b = F.transform(
        "ss",
        lambda s: F.struct(
            F.lit(None).cast("string").alias("sa"), s.alias("sb")
        ),
    )
    spairs = F.flatten(
        F.transform(
            "ss",
            lambda a, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size("ss")),
                lambda b: F.struct(a.alias("sa"), b.alias("sb")),
            ),
        )
    )
    cnts = (
        hs.select(
            F.explode(F.concat(singles_a, singles_b, spairs)).alias("p")
        )
        .groupBy("p.sa", "p.sb")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    src = d.select("source").distinct()
    sx, sy = src.alias("sx"), src.alias("sy")
    stubs = sx.join(sy, F.col("sx.source") < F.col("sy.source")).select(
        F.col("sx.source").alias("sa"),
        F.col("sy.source").alias("sb"),
        F.lit(0).cast("bigint").alias("cnt"),
    )
    allc = (
        cnts.unionByName(stubs)
        .groupBy("sa", "sb")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    w_sa = W.partitionBy("sa")
    w_sb = W.partitionBy("sb")
    exact = (
        allc.withColumn(
            "nd_a", F.max(F.when(F.col("sb").isNull(), F.col("cnt"))).over(w_sa)
        )
        .withColumn(
            "nd_b", F.max(F.when(F.col("sa").isNull(), F.col("cnt"))).over(w_sb)
        )
        .filter(F.col("sa").isNotNull() & F.col("sb").isNotNull())
        .select("sa", "sb", F.col("cnt").alias("ni"), "nd_a", "nd_b")
    )
    est = est.alias("est")
    exact = exact.alias("ix")
    return (
        est.join(
            F.broadcast(exact),
            (F.col("est.sa") == F.col("ix.sa"))
            & (F.col("est.sb") == F.col("ix.sb")),
        )
        .select(
            F.col("est.sa").alias("source_a"),
            F.col("est.sb").alias("source_b"),
            F.col("nd_a").alias("exact_a"),
            F.col("nd_b").alias("exact_b"),
            (F.col("nd_a") + F.col("nd_b") - F.col("ni"))
            .cast("bigint")
            .alias("exact_union"),
            F.col("ni").cast("bigint").alias("exact_intersect"),
            F.col("ea").cast("bigint").alias("est_a"),
            F.col("eb").cast("bigint").alias("est_b"),
            F.col("eu").cast("bigint").alias("est_union"),
            F.greatest(F.lit(0.0), F.col("ea") + F.col("eb") - F.col("eu"))
            .cast("bigint")
            .alias("est_intersect"),
        )
        .orderBy("source_a", "source_b")
    )


# --- sk05: join-key skew diagnosis report ------------------------------------
# The measurement that comes BEFORE sk01/sk02's mitigations: given the
# join key, quantify the skew (top-key share, discrete count percentiles,
# max/median ratio) and emit the salt factor the rule of thumb would pick.
# Percentiles use the q23/q40 histogram trick — counts-of-counts — so no
# stage ever globally sorts the key table, let alone the fact table.


@query(
    "sk05_skew_report",
    oracle="""
    WITH kc AS (
        SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    cc AS (
        SELECT c, CAST(count(*) AS BIGINT) AS nk FROM kc GROUP BY c
    ),
    tot AS (
        SELECT CAST(sum(nk) AS BIGINT) AS n_keys,
               CAST(sum(c * nk) AS BIGINT) AS n_rows,
               max(c) AS max_c
        FROM cc
    ),
    cum AS (
        SELECT c, sum(nk) OVER (ORDER BY c) AS cum_keys FROM cc
    ),
    pct AS (
        SELECT
            (SELECT min(c) FROM cum, tot
             WHERE cum_keys >= (n_keys + 1) // 2) AS p50_c,
            (SELECT min(c) FROM cum, tot
             WHERE cum_keys >= (n_keys * 9 + 9) // 10) AS p90_c,
            (SELECT min(c) FROM cum, tot
             WHERE cum_keys >= (n_keys * 99 + 99) // 100) AS p99_c
    ),
    top1 AS (
        SELECT min(k) AS top1_key FROM kc, tot WHERE kc.c = tot.max_c
    )
    SELECT tot.n_keys, tot.n_rows,
           CAST(top1.top1_key AS BIGINT) AS top1_key,
           CAST(tot.max_c AS BIGINT) AS top1_rows,
           round(CAST(tot.max_c AS DOUBLE) * tot.n_keys / tot.n_rows, 6)
               AS skew_ratio,
           round(CAST(tot.max_c AS DOUBLE) / tot.n_rows, 6) AS top1_share,
           CAST(pct.p50_c AS BIGINT) AS p50_rows,
           CAST(pct.p90_c AS BIGINT) AS p90_rows,
           CAST(pct.p99_c AS BIGINT) AS p99_rows,
           CAST((tot.max_c + pct.p50_c - 1) // pct.p50_c AS BIGINT)
               AS recommended_salt
    FROM tot, pct, top1
    """,
    tags=("skew", "diagnostics", "pipeline"),
)
def sk05_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report over events.user_id: key/row totals, the
    deterministic hottest key (ties -> min key), max/mean skew ratio,
    discrete p50/p90/p99 per-key row counts, and the salt factor
    ceil(top1 / p50) that sk01/sk02 would be configured with. The
    decision number a pipeline reads BEFORE choosing between plain
    shuffle, broadcast, salting, or AQE skew hints.

    Scale: one map-side-combined count per key, then everything runs on
    the counts-of-counts histogram (bounded by DISTINCT per-key count
    values, not keys — the q23/q40 trick): the cumulative window and
    every percentile probe touch only that tiny table, and the
    hottest-key lookup rides a min(k) column kept per histogram cell
    (so the corpus-sized key-count table is consumed exactly once —
    optimization r15). No stage orders keys or facts globally; the
    whole-frame windows span only the histogram."""
    e = table(spark, sf_dir, "events")
    kc = e.groupBy(F.col("user_id").alias("k")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    # ONE consumer of the corpus-sized kc subtree (optimization r15,
    # guide §2.3): the counts-of-counts histogram additionally keeps
    # min(k) per count value, so the deterministic hottest key (min key
    # at the global max count) no longer needs a second kc pass, and
    # the totals/percentile probes ride stacked windows over the tiny
    # histogram (bounded by DISTINCT per-key count values) instead of
    # three broadcast-join branches that each re-ran the corpus scan.
    cc = kc.groupBy("c").agg(
        F.count("*").cast("bigint").alias("nk"),
        F.min("k").alias("min_k"),
    )
    wq = W.orderBy("c")
    wf = W.orderBy("c").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = (
        cc.withColumn("cum_keys", F.sum("nk").over(wq))
        .withColumn("n_keys", F.sum("nk").over(wf))
        .withColumn("max_c", F.max("c").over(wf))
    )
    one = cum.agg(
        F.max("n_keys").cast("bigint").alias("n_keys"),
        F.sum(F.col("c") * F.col("nk")).cast("bigint").alias("n_rows"),
        F.max("c").alias("max_c"),
        F.min(
            F.when(
                F.col("cum_keys") >= F.expr("(n_keys + 1) DIV 2"), F.col("c")
            )
        ).alias("p50_c"),
        F.min(
            F.when(
                F.col("cum_keys") >= F.expr("(n_keys * 9 + 9) DIV 10"),
                F.col("c"),
            )
        ).alias("p90_c"),
        F.min(
            F.when(
                F.col("cum_keys") >= F.expr("(n_keys * 99 + 99) DIV 100"),
                F.col("c"),
            )
        ).alias("p99_c"),
        F.min(F.when(F.col("c") == F.col("max_c"), F.col("min_k")))
        .cast("bigint")
        .alias("top1_key"),
    )
    return (
        one.selectExpr(
            "n_keys",
            "n_rows",
            "top1_key",
            "CAST(max_c AS BIGINT) AS top1_rows",
            "round(CAST(max_c AS DOUBLE) * n_keys / n_rows, 6) AS skew_ratio",
            "round(CAST(max_c AS DOUBLE) / n_rows, 6) AS top1_share",
            "CAST(p50_c AS BIGINT) AS p50_rows",
            "CAST(p90_c AS BIGINT) AS p90_rows",
            "CAST(p99_c AS BIGINT) AS p99_rows",
            "CAST((max_c + p50_c - 1) DIV p50_c AS BIGINT) AS recommended_salt",
        )
    )


# --- hh05: time-decayed heavy hitters ----------------------------------------
# Recency-weighted frequency: the "who is hot NOW" ranking a live
# dashboard wants, where a burst last week outweighs steady traffic last
# quarter. Decay is EXACT dyadic arithmetic — age buckets of one
# half-life each, weight 2^-bucket (a power of two, exactly representable
# in a double) — so per-user sums are order-independent to the last bit
# and the cross-engine hash needs no rounding ladder at all.
_HH05_HALFLIFE_DAYS = 7
_HH05_TOPK = 20


@query(
    "hh05_decayed_heavy_hitters",
    oracle=f"""
    WITH ref AS (SELECT max(CAST(ts AS DATE)) AS d0 FROM events),
    w AS (
        SELECT user_id,
               CAST(1.0 AS DOUBLE)
               / (CAST(1 AS BIGINT) << least(date_diff('day',
                                                       CAST(ts AS DATE),
                                                       ref.d0)
                                             // {_HH05_HALFLIFE_DAYS},
                                             62)) AS wt
        FROM events, ref
    ),
    s AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               round(sum(wt), 6) AS decayed
        FROM w GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n_events, decayed,
           CAST(rk AS INT) AS rank
    FROM (
        SELECT *, row_number() OVER (ORDER BY decayed DESC, user_id) AS rk
        FROM s
    ) WHERE rk <= {_HH05_TOPK}
    ORDER BY rank
    """,
    tags=("sketch", "decay", "heavy-hitters", "pipeline"),
)
def hh05_decayed_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} users by exponentially time-decayed event mass (half-life
    7 days, corpus-relative reference date). The decay weight is
    2^-(age DIV halflife) — a power of two, exact in IEEE doubles — so
    the per-user sum is the same real number under ANY aggregation
    order: no summation-order rounding, no 1-ulp pow() dependence; the
    round of the score exists only for the registry output convention.
    Ages are clamped at 62 half-lives (weight 2^-62 ~ 2e-19, below any
    ranking relevance) because a 63+ shift overflows BIGINT on DuckDB
    and silently wraps (mod 64) under Java shiftleft semantics — the
    clamp keeps both engines defined and identical on corpora older
    than ~14 months.

    Scale: the reference date is one 1-row aggregate broadcast (ts10's
    allowlisted normalizer contract); weighting is map-only; the
    per-user sum map-side combines; top-k is one TakeOrdered over the
    user aggregate. Streaming twin: decayed_mass_stream
    (streaming/events.py) — frozen decay origin, applyInPandasWithState
    per-user sums; the dyadic weights make stream state equal the batch
    aggregate BIT-FOR-BIT across any micro-batch split (test-pinned)."""
    e = table(spark, sf_dir, "events")
    ref = e.agg(F.max(F.to_date("ts")).alias("d0"))
    w = e.crossJoin(F.broadcast(ref)).selectExpr(
        "user_id",
        f"CAST(1.0 AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT),"
        f" CAST(least(datediff(d0, to_date(ts)) DIV {_HH05_HALFLIFE_DAYS},"
        f" 62) AS INT)) AS DOUBLE) AS wt",
    )
    s = w.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("wt"), 6).alias("decayed"),
    )
    w_rk = W.orderBy(F.desc("decayed"), F.asc("user_id"))
    return (
        s.withColumn("rank", F.row_number().over(w_rk))
        .filter(F.col("rank") <= _HH05_TOPK)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "n_events",
            "decayed",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("rank")
    )


# --- ev24: cohort retention half-life fit ------------------------------------
# The model-fitting verb on top of ev08's matrix: per cohort, fit
# ln(retention) = a + b * week by closed-form least squares and report
# the decay half-life. Determinism is engineered, not assumed: each
# cell's ln(retention) lands on the 1e-6 grid as a BIGINT micro value
# FIRST, so every least-squares sum (Sx, Sy, Sxy, Sxx) is exact integer
# arithmetic; the slope is ONE division of two exact integers and ln(2)
# enters as a shared 15-digit literal — no libm call and no
# summation-order dependence anywhere in the fit.
_EV24_LN2 = "0.693147180559945"
_EV24_MIN_POINTS = 3


@query(
    "ev24_retention_halflife",
    oracle=f"""
    WITH f AS (
        SELECT user_id, ts, min(ts) OVER (PARTITION BY user_id) AS first_ts
        FROM events
    ),
    cells AS (
        SELECT strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort_week,
               CAST(date_diff('day', date_trunc('week', first_ts),
                              date_trunc('week', ts)) // 7 AS INT) AS k,
               CAST(count(DISTINCT user_id) AS BIGINT) AS active
        FROM f GROUP BY 1, 2
    ),
    base AS (
        SELECT cohort_week, active AS cohort_size FROM cells WHERE k = 0
    ),
    pts AS (
        SELECT c.cohort_week, c.k,
               CAST(round(ln(CAST(c.active AS DOUBLE) / b.cohort_size)
                          * 1000000, 0) AS BIGINT) AS y_micro
        FROM cells c JOIN base b USING (cohort_week)
        WHERE c.k >= 1 AND c.active > 0
    ),
    fit AS (
        SELECT cohort_week,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS sx,
               CAST(sum(CAST(k AS BIGINT) * k) AS BIGINT) AS sxx,
               CAST(sum(y_micro) AS BIGINT) AS sy,
               CAST(sum(k * y_micro) AS BIGINT) AS sxy
        FROM pts GROUP BY cohort_week
    )
    SELECT f.cohort_week, b.cohort_size, f.n AS n_points,
           round(CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
                 / (CAST(f.n * f.sxx - f.sx * f.sx AS DOUBLE) * 1000000), 6)
               AS slope,
           CASE WHEN f.n * f.sxy - f.sx * f.sy < 0 THEN
               round({_EV24_LN2}
                     * (CAST(f.n * f.sxx - f.sx * f.sx AS DOUBLE) * 1000000)
                     / -CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE), 6)
           ELSE NULL END AS half_life_weeks
    FROM fit f JOIN base b USING (cohort_week)
    WHERE f.n >= {_EV24_MIN_POINTS} AND f.n * f.sxx - f.sx * f.sx <> 0
    ORDER BY cohort_week
    """,
    tags=("events", "cohort", "fitting", "pipeline"),
)
def ev24_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort exponential-decay fit over the ev08 retention matrix:
    closed-form log-linear least squares, slope and half-life in weeks.
    The growth-analytics number a dashboard quotes ("this cohort halves
    every N weeks") — and the integer-scaling trick makes the whole fit
    bit-deterministic: ln(retention) is micro-gridded per CELL, the four
    least-squares sums are exact BIGINT arithmetic, and the slope is a
    single division of two exact integers (ln(2) is a shared literal).
    Cohorts whose retention does not decay (slope >= 0) emit a NULL
    half-life rather than a negative one.

    Scale: ev08's shape (one user_id shuffle + tiny (cohort, week)
    count-distinct) plus a fit that aggregates <= a handful of points
    per cohort — the fit stage is dimension-sized forever, and since
    r15 the ONE corpus subtree is consumed once (cohort_size rides a
    cohort_week window over the tiny cells table and is carried
    through the fit aggregate; no join back to a k = 0 self-slice)."""
    e = table(spark, sf_dir, "events")
    first_ts = F.min("ts").over(W.partitionBy("user_id"))
    cells = (
        e.select(
            F.date_format(F.date_trunc("week", first_ts), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.date_trunc("week", first_ts).cast("date"),
                )
                / 7
            )
            .cast("int")
            .alias("k"),
            "user_id",
        )
        .groupBy("cohort_week", "k")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active"))
    )
    # cohort_size via a window over the dimension-sized cells table
    # instead of a join back to a `k = 0` self-slice (optimization r15,
    # guide §2.3: the join's base side re-ran the whole corpus subtree —
    # scan + user_id window + two-level distinct aggregate — twice more;
    # the window touches only |cohorts x weeks| rows). The NULL guard
    # reproduces the old inner join's drop of cohorts without a k = 0
    # cell (impossible by construction — the first event IS week 0 —
    # but pinned for strict equivalence).
    wch = W.partitionBy("cohort_week")
    pts = (
        cells.withColumn(
            "cohort_size",
            F.max(F.when(F.col("k") == 0, F.col("active"))).over(wch),
        )
        .filter(
            (F.col("k") >= 1)
            & (F.col("active") > 0)
            & F.col("cohort_size").isNotNull()
        )
        .select(
            "cohort_week",
            "cohort_size",
            "k",
            F.round(
                F.log(F.col("active").cast("double") / F.col("cohort_size"))
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("y_micro"),
        )
    )
    fit = pts.groupBy("cohort_week").agg(
        F.max("cohort_size").alias("cohort_size"),
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sx"),
        F.sum(F.col("k").cast("bigint") * F.col("k")).cast("bigint").alias("sxx"),
        F.sum("y_micro").cast("bigint").alias("sy"),
        F.sum(F.col("k") * F.col("y_micro")).cast("bigint").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        fit.filter((F.col("n") >= _EV24_MIN_POINTS) & (den != 0))
        .select(
            "cohort_week",
            "cohort_size",
            F.col("n").alias("n_points"),
            F.round(
                num.cast("double") / (den.cast("double") * 1000000), 6
            ).alias("slope"),
            F.when(
                num < 0,
                F.round(
                    F.expr(_EV24_LN2)
                    * (den.cast("double") * 1000000)
                    / -num.cast("double"),
                    6,
                ),
            ).alias("half_life_weeks"),
        )
        .orderBy("cohort_week")
    )
