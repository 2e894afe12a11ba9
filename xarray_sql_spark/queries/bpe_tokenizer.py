"""BPE tokenizer TRAIN + APPLY — real subword token counts for the pipeline.

ts11 computes BPE merge-candidate statistics and ts14 the vocabulary growth
curve, but until round 10 nothing APPLIED a trained merge list: every token
count downstream (pl08 packing, ts13 budget fill, pl10 mixing) was a
whitespace proxy — the r9 verdict's top gap. This module closes it with the
production split every real tokenizer pipeline uses:

- TRAIN on a bounded sample: the top-``_BPE_K_SAMPLE`` word types by corpus
  frequency (deterministic ``ORDER BY cnt DESC, word`` tie-break). The
  sample is collected to the driver (constant-bounded, the ss09/ss14
  codebook contract) and the ``_BPE_N_MERGES`` greedy merges are derived in
  pure integer Python arithmetic.
- APPLY distributed, per word TYPE: the full word-frequency table (Heaps-
  sublinear in corpus size) is segmented by a chain of JVM-side
  ``aggregate()`` array folds — one left-to-right greedy pass per merge
  rule, exactly Sennrich et al. 2016's replay-in-rank-order application —
  and per-document token counts come from an equi-join of the exploded
  corpus against that vocabulary map (never a per-document re-segmentation).

Merge-application semantics (identical on all three implementations —
Python trainer, Spark fold, DuckDB oracle fold): one pass per rule in rank
order; scanning left to right, a token equal to ``pb`` fuses into a
preceding accumulator tail equal to ``pa``; the fused token participates in
later comparisons of the SAME pass (so ``a a a`` under ``(a,a)`` yields
``[aa, a]``). Rank order replay is equivalent to lowest-rank-first because
merging only creates LONGER tokens — no later merge can recreate an earlier
rule's operands.

The DuckDB oracle self-trains with the SAME algorithm as unrolled SQL CTE
levels: per level, pair totals over the sampled vocabulary, argmax with the
(total DESC, pa, pb) tie-break (binary collation == Python code-point
order), then a ``list_reduce`` fold whose accumulator is the token list
encoded as a chr(31)-separated string (tokens never contain the separator:
they come from space-split words). Hash equality therefore proves BOTH the
training replay and the segmentation, not just the counts.

Scale: training touches ``_BPE_K_SAMPLE`` rows (driver-bounded); the apply
chain runs over word TYPES (vocabulary, sublinear); the corpus-scale work
is one exploded equi-join on the word key with map-side-combined per-doc
aggregation — the vocabulary map is small enough that AQE turns it into a
broadcast hash join. No Python UDF anywhere on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xarray_sql_spark.registry import query, train_memo
from xarray_sql_spark.session import table

_BPE_N_MERGES = 8
_BPE_K_SAMPLE = 512
_SEP = 31  # chr(31): unit separator — cannot occur inside space-split words


# --- shared trainer (Python, exact integer arithmetic) ----------------------

def _apply_merge(toks: list[str], pa: str, pb: str) -> list[str]:
    """One left-to-right greedy pass of merge rule (pa, pb)."""
    out: list[str] = []
    for t in toks:
        if out and t == pb and out[-1] == pa:
            out[-1] = pa + pb
        else:
            out.append(t)
    return out


def train_merges(sample: list[tuple[str, int]], n_merges: int = _BPE_N_MERGES) -> list[tuple[str, str]]:
    """Greedy BPE training over (word, count) types: per iteration, the
    adjacent-pair with the highest count-weighted total wins, ties broken
    by (pa, pb) code-point order — byte-identical to the oracle's binary
    collation because UTF-8 byte order preserves code-point order."""
    vocab = [(list(word), cnt) for word, cnt in sample]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for toks, cnt in vocab:
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + cnt
        if not counts:
            # Degenerate corpus (every sampled word fully merged into a
            # single token) exhausts pairs early. Stop training; the
            # oracle pads its remaining unrolled levels with a no-op
            # sentinel rule (pa = pb = chr(_SEP), a character excluded
            # from every word on both sides), so applying the short
            # merge list here segments identically to the oracle's
            # fixed-depth CTE chain.
            break
        pa, pb = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((pa, pb))
        vocab = [(_apply_merge(toks, pa, pb), cnt) for toks, cnt in vocab]
    return merges


# --- DuckDB oracle fragment (self-training, unrolled CTE levels) ------------

def _merge_fold_duck(b: str) -> str:
    """The greedy merge pass as a list_reduce whose accumulator is the
    token list encoded as a chr(31)-separated string (DuckDB's reduce
    requires accumulator type == element type)."""
    return f"""string_split(list_reduce(toks, (acc, t) -> CASE
        WHEN t = {b}.pb AND (acc = {b}.pa OR
             (length(acc) > length({b}.pa) AND
              substr(acc, length(acc) - length({b}.pa), length({b}.pa) + 1)
                  = chr({_SEP}) || {b}.pa))
        THEN left(acc, length(acc) - length({b}.pa)) || {b}.ab
        ELSE acc || chr({_SEP}) || t END), chr({_SEP}))"""


_CHAR_SPLIT_DUCK = (
    "list_transform(range(1, length(word) + 1),"
    " i -> substr(word, CAST(i AS INT), 1))"
)


def bpe_ctes(n_merges: int = _BPE_N_MERGES, k: int = _BPE_K_SAMPLE) -> str:
    """CTE chain (to splice after WITH) ending in
    ``bpe(word, toks, n_bpe)`` — the segmented full vocabulary."""
    parts = [
        f"""wf AS MATERIALIZED (
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' AND strpos(word, chr({_SEP})) = 0 GROUP BY word
    ),
    s0 AS MATERIALIZED (SELECT word, cnt FROM wf ORDER BY cnt DESC, word LIMIT {k}),
    t0 AS MATERIALIZED (SELECT word, cnt, {_CHAR_SPLIT_DUCK} AS toks FROM s0),
    a0 AS MATERIALIZED (SELECT word, {_CHAR_SPLIT_DUCK} AS toks FROM wf)"""
    ]
    for i in range(n_merges):
        parts.append(f"""p{i} AS MATERIALIZED (
        SELECT toks[CAST(j AS INT)] AS pa, toks[CAST(j AS INT) + 1] AS pb,
               sum(cnt) AS total
        FROM t{i}, LATERAL (SELECT unnest(range(1, len(toks))) AS j) u
        GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
        -- exactly one rule per level: the best pair, or — when the
        -- sample exhausted its pairs (every word a single token, so
        -- p{i} is empty) — a no-op sentinel on chr({_SEP}), which no
        -- word contains (filtered in wf), keeping t/a folds identity
        -- instead of emptying the cross join. Mirrors train_merges'
        -- early break so Spark and oracle segment identically.
        (SELECT pa, pb, pa || pb AS ab FROM p{i}
            ORDER BY total DESC, pa, pb LIMIT 1)
        UNION ALL
        (SELECT chr({_SEP}), chr({_SEP}), chr({_SEP}) || chr({_SEP})
            WHERE NOT EXISTS (SELECT 1 FROM p{i}))
    ),
    t{i + 1} AS MATERIALIZED (SELECT word, cnt, {_merge_fold_duck(f"b{i}")} AS toks
                 FROM t{i}, b{i}),
    a{i + 1} AS MATERIALIZED (SELECT word, {_merge_fold_duck(f"b{i}")} AS toks
                 FROM a{i}, b{i})""")
    parts.append(
        f"bpe AS (SELECT word, toks, len(toks) AS n_bpe FROM a{n_merges})"
    )
    return ",\n    ".join(parts)


# --- Spark side --------------------------------------------------------------

def _word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # words carrying chr(31) are excluded on BOTH engines: the oracle's
    # fold encodes its accumulator with that separator, so such a word
    # would silently segment differently there (review finding). Space-
    # split corpora never produce it, but the guard makes the contract
    # explicit rather than assumed.
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter((F.col("word") != "") & ~F.col("word").contains(chr(_SEP)))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


# merges memoized per documents.parquet content identity via
# session._file_sig — which aggregates PART-FILE stats for directory
# layouts, where the directory's own mtime does not change on an in-place
# part rewrite (the review finding _file_sig exists for). An in-process
# rewrite (scale-probe replicas, tmp fixtures) invalidates naturally,
# while bench / driver runs over one sf_dir train once per process however
# many queries ride the vocabulary (ts19/pl08/pl10/ts13/pl16 share one
# training).
@train_memo("documents.parquet")
def bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    sample = (
        _word_freq(spark, sf_dir)
        .orderBy(F.desc("cnt"), "word")
        .limit(_BPE_K_SAMPLE)
        .collect()
    )
    return train_merges([(r.word, r.cnt) for r in sample])


def _merge_fold_spark(col: Column, pa: str, pb: str) -> Column:
    """The greedy merge pass as a JVM-side aggregate() array fold — each
    element either fuses into the accumulator's tail or appends.

    The input column is referenced exactly ONCE (empty-array init, not
    [first-element] init): the merge chain composes one fold per rule,
    and a fold that mentions its input k times makes the composed
    expression k^n_merges nodes — the first cut (init = [head], input
    referenced 4x) took 44 s to ANALYZE at sf0.001; this form is
    linear in the merge count."""
    merged = F.lit(pa + pb)

    def step(acc: Column, t: Column) -> Column:
        return F.when(
            (F.size(acc) > 0)
            & (t == F.lit(pb))
            & (F.element_at(acc, -1) == F.lit(pa)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(t)))

    return F.aggregate(
        col, F.expr("CAST(array() AS array<string>)"), step
    )


def bpe_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The segmented full vocabulary: word -> (toks, n_bpe). Builds (and
    memoizes) the merge list, then chains one fold per merge over word
    TYPES — the corpus text itself is never re-segmented per document."""
    merges = bpe_merges(spark, sf_dir)
    toks: Column = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substring(F.col("word"), i, F.lit(1)),
    )
    for pa, pb in merges:
        toks = _merge_fold_spark(toks, pa, pb)
    return _word_freq(spark, sf_dir).select(
        "word", toks.alias("toks"), F.size(toks).cast("bigint").alias("n_bpe")
    )


# --- ts19: apply the trained tokenizer ---------------------------------------

@query(
    "ts19_bpe_tokenize",
    oracle=f"""
    WITH {bpe_ctes()},
    docs AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    dw AS (SELECT doc_id, unnest(ws) AS word FROM docs),
    agg AS (
        SELECT dw.doc_id,
               CAST(count(*) AS BIGINT) AS n_ws_tokens,
               CAST(sum(b.n_bpe) AS BIGINT) AS n_bpe_tokens
        FROM dw JOIN bpe b USING (word) GROUP BY dw.doc_id
    ),
    fw AS (SELECT doc_id, ws[1] AS word FROM docs WHERE len(ws) >= 1)
    SELECT CAST(agg.doc_id AS BIGINT) AS doc_id, n_ws_tokens, n_bpe_tokens,
           round(CAST(n_bpe_tokens AS DOUBLE) / n_ws_tokens, 6)
               AS tokens_per_word,
           array_to_string(b.toks, ' ') AS first_word_seg
    FROM agg JOIN fw USING (doc_id) JOIN bpe b ON b.word = fw.word
    ORDER BY doc_id
    """,
    tags=("text", "tokenizer", "bpe", "pipeline"),
)
def ts19_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY — the inference half of ts11/ts14 (r9 verdict's
    top item): segment every document with the 8-rule (_BPE_N_MERGES)
    merge list trained on the top-512 (_BPE_K_SAMPLE) word types, emitting REAL
    subword token counts (whitespace count alongside for the compression
    diagnostic) plus the first word's actual segmentation as in-row
    evidence. The oracle re-trains the identical merges in unrolled SQL
    and re-applies them with the identical greedy fold, so a hash match
    proves training replay + segmentation end to end, not just totals.

    Scale: train on a driver-bounded sample (the codebook contract);
    apply per word TYPE (vocabulary is Heaps-sublinear in corpus size);
    per-doc counts are ONE posexploded equi-join on the word key against
    the small vocabulary map (AQE broadcast) with map-side-combined
    aggregation — pos 0 carries the first word, so its segmentation
    rides the same join/aggregate as the counts (no second corpus scan,
    no seg join, no doc_id join-back). The NULL filter reproduces the
    old inner seg-join's drop of docs whose FIRST word is outside the
    vocabulary (only possible for chr(31)-carrying words — impossible
    in a space-split corpus, but the contract is explicit). All folds
    are JVM expressions — zero Python UDFs."""
    vocab = bpe_vocab_df(spark, sf_dir).select(
        "word", "n_bpe", F.array_join("toks", " ").alias("seg")
    )
    d = table(spark, sf_dir, "documents", spread=True)
    dw = d.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("pos", "word"),
    )
    return (
        dw.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ws_tokens"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
            F.max(F.when(F.col("pos") == 0, F.col("seg"))).alias(
                "first_word_seg"
            ),
        )
        .filter(F.col("first_word_seg").isNotNull())
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("n_ws_tokens").cast("bigint").alias("n_ws_tokens"),
            F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_ws_tokens"), 6
            ).alias("tokens_per_word"),
            "first_word_seg",
        )
        .orderBy("doc_id")
    )


# --- shared per-document real-token counts (pl08/pl10/ts13/pl16 consumers) ----

def bpe_doc_counts_ctes() -> str:
    """``bpe_ctes()`` extended with ``doc_tok(doc_id, n_tok)`` — per-doc
    REAL subword counts, the drop-in replacement for the whitespace
    proxy in every downstream token number (splice after WITH). Docs
    with no words drop out (inner join against the vocabulary): a
    document contributing zero tokens has no place in a token-counted
    plan, and both engines agree by construction."""
    return f"""{bpe_ctes()},
    dwx AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    doc_tok AS (
        SELECT doc_id, CAST(sum(b.n_bpe) AS BIGINT) AS n_tok
        FROM dwx JOIN bpe b USING (word) GROUP BY doc_id
    )"""


def bpe_doc_counts(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """Spark twin of ``doc_tok``: per-doc real token counts from the
    shared (memoized) vocabulary map — ts19's apply join, reusable by
    any query that previously counted whitespace tokens.

    ``extra`` names additional document columns to carry through the
    word explode (they are pure functions of the doc row — the
    dd14/ts12 carry-through-the-explode rule), so consumers that
    previously joined the counts back to ``documents`` just to recover
    ``source`` skip that join-back and its second corpus scan. Grouping
    by (doc_id, *extra) has exactly doc_id's cardinality, and the
    map-side combine reduces the shuffle to one row per doc either way,
    so the extra columns add bytes-per-doc, not rows."""
    vocab = bpe_vocab_df(spark, sf_dir).select("word", "n_bpe")
    d = table(spark, sf_dir, "documents", spread=True)
    dw = d.select(
        "doc_id", *extra, F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        dw.join(vocab, "word")
        .groupBy("doc_id", *extra)
        .agg(F.sum("n_bpe").cast("long").alias("n_tok"))
    )
