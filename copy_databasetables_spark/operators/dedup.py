"""§2.10 Deduplication operators for training-data pipelines.

Five dedup families over ``documents``, all pure JVM-side DataFrame
expressions (no UDFs; the one Python pass is the connected-components
contraction, ``_local_contract``):

- exact        — content-hash groupBy (``sha2``)
- near (token) — blocked self-join + exact token-set Jaccard
- near (ngram) — same, over bigram shingles (catches local reordering)
- SimHash      — 16-bit portable fingerprint + pigeonhole-blocked
                 Hamming-distance pairs (equi join on 4-bit blocks)
- MinHash-LSH  — 16 hashes, 4 bands × 4 rows, banded candidate join +
                 exact-Jaccard verification (the 100 TB scale path)
- embedding    — cosine near-dup pairs over the vector column

Portability note: every hash is built from ``md5`` (identical across
Spark and DuckDB) with hex→int via Spark ``conv(...,16,10)`` ↔ DuckDB
``CAST('0x…' AS BIGINT)`` — so even the LSH pipeline is fully
deterministic and value-hash-checkable against the SQL oracle.

Scale notes (100 TB):
- The O(n²) self-joins here are *blocked*: language equality + a
  size-ratio band (sound for Jaccard ≥ τ: |A∩B|/|A∪B| ≥ τ implies
  τ ≤ |A|/|B| ≤ 1/τ), so candidate pairs shuffle on (lang) and the
  band prunes within the partition.
- MinHash-LSH replaces the pair join entirely: cost is O(n · bands)
  with a shuffle on the band bucket key — the only dedup join that
  survives a 5-billion-document corpus. Band buckets are naturally
  skew-prone (common shingle sets) — AQE skew-split handles the hot
  buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from copy_databasetables_spark.io import load_table
from copy_databasetables_spark.operators import register
from copy_databasetables_spark.operators._helpers import ckpt, ckpt_observed, rz

# --- shared fragments ----------------------------------------------------

#: Spark SQL: distinct token set of a document.
_TOKS = "array_distinct(split(text, ' '))"
#: DuckDB: the same token set.
_D_TOKS = "list_distinct(string_split(text, ' '))"

#: Spark SQL: portable 60-bit hash of a string expression {x}.
_H = "cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"
#: DuckDB: the same 60-bit hash.
_D_H = "CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"


def _toks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # documents is one small parquet file → one scan partition. The
    # self-joins below multiply it into millions of candidate pairs, so
    # without an explicit repartition ALL downstream pair work would run
    # in a single task (AQE won't split it: the *bytes* look tiny).
    # Small-input × heavy-derived-compute wants explicit parallelism.
    return (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            "lang",
            F.expr(_TOKS).alias("toks"),
            F.expr(f"size({_TOKS})").alias("sz"),
        )
    )


#: Spark/DuckDB: hash each distinct token ONCE (md5 → 60-bit int); the
#: per-seed hash families below derive from this value arithmetically, so
#: the md5 cost is O(tokens), not O(tokens × hashes).
_TOKH = f"transform(toks, t -> {_H.format(x='t')})"
_D_TOKH = f"list_transform(toks, t -> {_D_H.format(x='t')})"


@register(
    "q_dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups by content hash; the canonical survivor is
    the minimum doc_id. One shuffle on the 256-bit hash — at 100 TB hash
    first, group second, so the shuffle key is 32 bytes, not the text."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


_JACCARD_TAU = 0.95

#: q_dedup_survivor broadcasts its cluster table only below this row
#: count (~3 compact columns/row → well under Spark's 8 GB broadcast
#: cap); above it the corpus join falls back to a shuffle join.
_SURVIVOR_BROADCAST_MAX_ROWS = 20_000_000


def _cc_oracle_prefix(stages: int = 16, pairs_cte: str | None = None) -> str:
    """DuckDB CTE chain computing connected-component labels over the
    near-dup pair graph WITHOUT a recursive CTE: a recursive ``reach``
    closure materializes every (vertex, reachable-vertex) pair, i.e.
    Σ|component|² rows (589 s at sf0.1 on this boilerplate-heavy
    corpus). Instead, ``stages`` unrolled rounds of min-label
    propagation + pointer jumping over the UNCONTRACTED pair graph
    compute the reference fixpoint — the component-min label — which
    the Spark side reaches by a different route (per-partition
    union-find contraction, then ``_min_label_propagate``). Each round
    keeps n rows (one label per vertex) and label(v) only ever
    decreases; pointer jumping halves id-increasing paths each round,
    and the testdata's pair graphs reach the fixpoint inside 16
    stages. If an input ever needed more rounds the labels would
    differ from the component minima and the hash gate would FAIL
    loudly — non-convergence cannot silently pass.

    Produces CTEs: …, pairs, edges, l0..l{stages}, comp(doc_id,
    cluster_id). Callers append their own final SELECT. ``pairs_cte``
    overrides the pair-generation chain (must end in a CTE named
    ``pairs(doc_id_a, doc_id_b)``); the default is the exact
    lang-blocked near-pair join (q_dedup_near's oracle shape)."""
    if pairs_cte is None:
        pairs_cte = f"""t AS MATERIALIZED (SELECT doc_id, lang, {_D_TOKS} AS toks,
             len({_D_TOKS}) AS sz
      FROM documents),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))
            >= {_JACCARD_TAU})"""
    parts = [
        pairs_cte,
        """edges AS MATERIALIZED (SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
              UNION ALL
              SELECT doc_id_b, doc_id_a FROM pairs),
    l0 AS MATERIALIZED (SELECT d AS doc_id, LEAST(d, MIN(s)) AS label
           FROM edges GROUP BY d)""",
    ]
    for k in range(stages):
        # label' = min(own label, label-of-label [pointer jump],
        #              min over in-neighbors' labels [propagation]);
        # labels are always vertices, so the ptr self-join always hits.
        parts.append(
            f"""l{k + 1} AS MATERIALIZED (
      SELECT cur.doc_id,
             LEAST(cur.label, ptr.label,
                   COALESCE(MIN(nl.label), cur.label)) AS label
      FROM l{k} cur
      JOIN l{k} ptr ON ptr.doc_id = cur.label
      LEFT JOIN (SELECT e.d AS doc_id, l.label
                 FROM edges e JOIN l{k} l ON l.doc_id = e.s) nl
        ON nl.doc_id = cur.doc_id
      GROUP BY cur.doc_id, cur.label, ptr.label)"""
        )
    parts.append(
        f"comp AS (SELECT doc_id, label AS cluster_id FROM l{stages})"
    )
    return "WITH " + ",\n    ".join(parts)


@register(
    "q_dedup_near",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_D_TOKS} AS toks,
                      len({_D_TOKS}) AS sz
               FROM documents)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           len(list_intersect(a.toks, b.toks))::DOUBLE
             / (a.sz + b.sz - len(list_intersect(a.toks, b.toks))) AS jaccard
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
            / (a.sz + b.sz - len(list_intersect(a.toks, b.toks))) >= {_JACCARD_TAU}
    """,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by token-set Jaccard ≥ 0.95 within language.

    Blocking: lang equality (join key → hash shuffle) + size-ratio band
    100·|A| ≥ 95·|B| ∧ 100·|B| ≥ 95·|A| (integer arithmetic; sound for
    τ=0.95, so blocked output ≡ unblocked oracle). Exact Jaccard is an
    int/int division — bit-identical across engines. |A∪B| is computed
    as |A|+|B|−|A∩B| (identical for distinct sets) so the hot pair loop
    runs ONE set operation, not two — array_union would build and
    materialize a union array per pair only to take its size.

    The hot intersect runs over ``xxhash64(token)`` int64 arrays, not
    the token strings (r5: 2.2× faster pair generation measured at
    sf0.1 — int equality + cheap set hashing beats per-string work,
    and the hash is computed once per doc, O(tokens), while intersects
    run per candidate PAIR). Equal to string-set Jaccard absent an
    xxhash64 collision inside one doc-pair's vocabulary (p ≈ n²/2⁶⁴ —
    at 300-token docs, ~2e-15 per pair); the DuckDB oracle intersects
    the raw strings, so the differential gate itself verifies
    collision-freeness on the corpus. |A| / |B| stay sizes of the
    STRING token sets."""
    # r15: both sides of the blocked self-join evaluated the
    # tokenize+xxhash64 projection — materialize once (the same
    # intra-query localCheckpoint the containment op pins).
    t = ckpt(
        _toks_df(spark, sf_dir)
        .withColumn("toki", F.expr("transform(toks, t -> xxhash64(t))"))
        .select("doc_id", "lang", "sz", "toki")
    )
    return _exact_tau_pairs(t, "toki")


def _exact_tau_pairs(t: DataFrame, hash_col: str) -> DataFrame:
    """Single source for the blocked exact-Jaccard all-pairs join — THE
    ground-truth pair definition: lang-equality block + the τ=0.95
    size-ratio band + exact Jaccard over the ``hash_col`` int arrays.
    Shared by q_dedup_near (xxhash64 ``toki``) and the recall audit's
    ground-truth leg (md5 ``tokh``, the _verify_jaccard family — so
    verified ⊆ true holds exactly, not just absent collisions). Keeping
    it single-sourced means a band or τ change cannot diverge the audit
    from the op it audits. Returns (doc_id_a, doc_id_b, jaccard)."""
    a = t.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("lang"),
        F.col(hash_col).alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    b = t.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("lang").alias("lang_b"),
        F.col(hash_col).alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        a.join(
            b,
            (a.lang == b.lang_b)
            & (a.doc_id_a < b.doc_id_b)
            & (a.sz_a * 100 >= b.sz_b * 95)
            & (b.sz_b * 100 >= a.sz_a * 95),
        )
        .withColumn("inter", inter)
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


_NGRAM_TAU = 0.60

#: Spark SQL: distinct bigram shingles (0-based [] indexing).
_BIGRAMS = (
    "array_distinct(transform(slice(split(text,' '), 1, size(split(text,' ')) - 1), "
    "(t, i) -> concat(t, ' ', split(text,' ')[i + 1])))"
)
#: DuckDB: the same shingles (1-based indexing, range(1,n) = [1..n-1]).
_D_BIGRAMS = (
    "list_distinct(list_transform(range(1, len(string_split(text,' '))), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]))"
)


@register(
    "q_dedup_ngram",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang,
                      list_distinct(list_transform({_D_BIGRAMS},
                        g -> {_D_H.format(x='g')})) AS grams
               FROM documents),
    s AS (SELECT doc_id, lang, grams, len(grams) AS gsz FROM t)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           len(list_intersect(a.grams, b.grams))::DOUBLE
             / (a.gsz + b.gsz - len(list_intersect(a.grams, b.grams))) AS jaccard
    FROM s a JOIN s b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND a.gsz * 100 >= b.gsz * 60 AND b.gsz * 100 >= a.gsz * 60
    WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
            / (a.gsz + b.gsz - len(list_intersect(a.grams, b.grams))) >= {_NGRAM_TAU}
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (bigram-shingle) Jaccard near-dup pairs: stricter than
    token-set Jaccard because shingles encode local word order. Shingles
    are hashed to 60-bit ints (portable md5, once per shingle) so the
    pair-intersection work compares ints, not strings.

    Blocking mirrors q_dedup_near: lang equality + the size-ratio band
    sound for τ=0.60 (J(A,B) ≥ 0.6 ⇒ 0.6 ≤ |A|/|B| ≤ 1/0.6, integer
    form 100·|A| ≥ 60·|B| ∧ 100·|B| ≥ 60·|A|) — the band prunes the
    per-language O(n²) without changing the result set (the oracle
    carries the same band, and its output is provably identical to the
    unbanded query)."""
    grams_hashed = (
        f"array_distinct(transform({_BIGRAMS}, g -> {_H.format(x='g')}))"
    )
    d = ckpt(
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)  # see _toks_df
        .select("doc_id", "lang", F.expr(grams_hashed).alias("grams"))
        .withColumn("gsz", F.size("grams"))
        # r15: both self-join sides evaluated the bigram-md5 projection
        # — materialize once (see q_dedup_containment's t).
    )
    a = d.select(
        F.col("doc_id").alias("doc_id_a"),
        "lang",
        F.col("grams").alias("grams_a"),
        F.col("gsz").alias("gsz_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("lang").alias("lang_b"),
        F.col("grams").alias("grams_b"),
        F.col("gsz").alias("gsz_b"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    return (
        a.join(
            b,
            (a.lang == b.lang_b)
            & (a.doc_id_a < b.doc_id_b)
            & (a.gsz_a * 100 >= b.gsz_b * 60)
            & (b.gsz_b * 100 >= a.gsz_a * 60),
        )
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("gsz_a") + F.col("gsz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= _NGRAM_TAU)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


#: duplicated-span window width (tokens). Production exact-substring
#: dedup (Lee et al. 2022) uses ~50; 8 here so the small synthetic docs
#: actually produce cross-doc spans.
_SUBSTR_K = 8


@register(
    "q_dedup_substring",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS tok,
             len(string_split(text, ' ')) AS n
      FROM documents),
    spans AS MATERIALIZED (
      SELECT doc_id,
             {_D_H.format(x=f"array_to_string(list_slice(tok, i, i + {_SUBSTR_K} - 1), ' ')")} AS h
      FROM t, UNNEST(range(1, GREATEST(n - {_SUBSTR_K} + 2, 1))) AS u(i)),
    dup AS (SELECT h FROM spans GROUP BY h
            HAVING COUNT(DISTINCT doc_id) > 1),
    perdoc AS (SELECT s.doc_id, COUNT(*) AS n_dup
               FROM spans s JOIN dup USING (h) GROUP BY s.doc_id)
    SELECT t.doc_id,
           GREATEST(t.n - {_SUBSTR_K} + 1, 0)::BIGINT AS n_spans,
           COALESCE(p.n_dup, 0)::BIGINT AS n_dup_spans,
           CASE WHEN t.n >= {_SUBSTR_K}
                THEN ROUND(COALESCE(p.n_dup, 0)::DOUBLE
                           / (t.n - {_SUBSTR_K} + 1), 4)
                ELSE 0.0 END AS dup_frac
    FROM t LEFT JOIN perdoc p ON p.doc_id = t.doc_id
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-SPAN detection — the exact-substring dedup signal
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): near-dup docs share whole documents; template spam
    and boilerplate share SPANS inside otherwise-distinct docs, which
    doc-level Jaccard never sees. Every ``_SUBSTR_K``-token sliding
    window is hashed (portable md5, positional — NOT the distinct-token
    set) and a span duplicated across ≥2 distinct docs marks every
    occurrence; per doc the engine reports span counts and the
    duplicated fraction (the quantity pipelines threshold on to drop or
    trim documents).

    Spark shape at 100 TB: explode to one row per window (O(total
    tokens) rows, the same order as tokenization itself), one groupBy
    on the 60-bit span hash with a partial aggregate, one equi-join
    back, one per-doc groupBy — no self-join, no O(n²) anywhere; the
    dup-hash side is unbounded (corpus-dependent) so it carries NO
    broadcast hint. The true suffix-array algorithm dedups arbitrary-
    length substrings; this fixed-window form is its standard scalable
    approximation (any duplicated run ≥ K tokens is guaranteed to
    produce duplicated windows)."""
    tok = "split(text, ' ')"
    span_str = f"array_join(slice({tok}, i, {_SUBSTR_K}), ' ')"
    spans_expr = (
        f"case when size({tok}) >= {_SUBSTR_K} then "
        f"transform(sequence(1, size({tok}) - {_SUBSTR_K} + 1), "
        f"i -> {_H.format(x=span_str)}) "
        "else array() end"
    )
    # r15 (guide §2.3 "aggregate before you shuffle" + §7.2 duplicated
    # subtrees): the r14 shape referenced the md5-span projection from
    # THREE branches (n_spans, dup detection, per-doc count), and filter
    # pushdown inlined the whole transform into two more Filter nodes —
    # the plan evaluated the corpus-dominant span-hash expression ~5×
    # per document. Now the corpus expression is evaluated exactly ONCE,
    # in a single linear chain: explode → partial-aggregated groupBy
    # (h, doc_id) → count() window over h (nd = in how many distinct
    # docs the span appears — one row per (h, doc_id), so a plain row
    # count IS the distinct-doc count) → one per-doc aggregate that
    # folds both outputs (n_spans = Σ multiplicity ≡ size(spans);
    # n_dup = Σ multiplicity where nd > 1). Span-less docs are restored
    # by a doc_id-only left join (no text touched on that branch).
    # Results bit-identical: same integers, same 4dp rounding — the
    # conditional Σ over nd>1 rows equals the old equi-join against the
    # nd>1 hash set.
    from pyspark.sql.window import Window

    span_counts = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)  # see _toks_df
        .select("doc_id", F.explode(F.expr(spans_expr)).alias("h"))
        .groupBy("h", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    perdoc = (
        span_counts.withColumn(
            "nd", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_spans_nz"),
            F.sum(F.when(F.col("nd") > 1, F.col("c")).otherwise(F.lit(0))).alias(
                "n_dup"
            ),
        )
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans_nz"), F.lit(0))
            .cast("bigint")
            .alias("n_spans"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.when(
                F.coalesce(F.col("n_spans_nz"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
                    / F.col("n_spans_nz"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


#: winnowing window (in span-hashes): per window of _MINIMIZER_W
#: consecutive K-token span hashes, keep only the rightmost-minimal
#: hash — expected density 2/(w+1) of all spans, with the Schleimer
#: et al. 2003 guarantee that any duplicated run of
#: ≥ _SUBSTR_K + _MINIMIZER_W − 1 tokens still shares ≥1 selected span.
_MINIMIZER_W = 4


@register(
    "q_dedup_substring_minimizer",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS tok,
             len(string_split(text, ' ')) AS n
      FROM documents),
    spans AS MATERIALIZED (
      SELECT doc_id, CAST(u.i AS BIGINT) AS i,
             {_D_H.format(x=f"array_to_string(list_slice(tok, i, i + {_SUBSTR_K} - 1), ' ')")} AS h
      FROM t, UNNEST(range(1, GREATEST(n - {_SUBSTR_K} + 2, 1))) AS u(i)),
    wins AS MATERIALIZED (
      SELECT s.doc_id, CAST(u.wi AS BIGINT) AS wi, s.i, s.h
      FROM t, UNNEST(range(1,
             CASE WHEN n - {_SUBSTR_K} + 1 >= 1
                  THEN GREATEST(n - {_SUBSTR_K} + 1 - {_MINIMIZER_W} + 2, 2)
                  ELSE 1 END)) AS u(wi)
      JOIN spans s ON s.doc_id = t.doc_id
       AND s.i >= u.wi AND s.i <= u.wi + {_MINIMIZER_W} - 1),
    sel AS MATERIALIZED (
      SELECT DISTINCT doc_id, i, h FROM (
        SELECT doc_id, wi, i, h,
               row_number() OVER (PARTITION BY doc_id, wi
                                  ORDER BY h ASC, i DESC) AS rn
        FROM wins) WHERE rn = 1),
    dup AS (SELECT h FROM sel GROUP BY h
            HAVING COUNT(DISTINCT doc_id) > 1),
    perdoc AS (SELECT s.doc_id, COUNT(*) AS n_dup
               FROM sel s JOIN dup USING (h) GROUP BY s.doc_id),
    nsel AS (SELECT doc_id, COUNT(*) AS n_sel FROM sel GROUP BY doc_id)
    SELECT t.doc_id,
           COALESCE(ns.n_sel, 0)::BIGINT AS n_sel,
           COALESCE(p.n_dup, 0)::BIGINT AS n_dup_sel,
           CASE WHEN COALESCE(ns.n_sel, 0) > 0
                THEN ROUND(COALESCE(p.n_dup, 0)::DOUBLE / ns.n_sel, 4)
                ELSE 0.0 END AS dup_frac
    FROM t
    LEFT JOIN nsel ns ON ns.doc_id = t.doc_id
    LEFT JOIN perdoc p ON p.doc_id = t.doc_id
    """,
)
def q_dedup_substring_minimizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimizer-sampled span dedup — q_dedup_substring with WINNOWING
    (Schleimer et al. 2003, the MOSS fingerprinting scheme; VERDICT
    r12 item 5): instead of shuffling EVERY K-token span hash, each
    document keeps only the rightmost-minimal hash of every
    ``_MINIMIZER_W``-wide window of consecutive span hashes — expected
    2/(w+1) of the spans (~40% at w=4), with the winnowing GUARANTEE
    that any run duplicated across docs of length ≥ K+w−1 tokens
    (11 here) still shares at least one selected span in every copy:
    identical hash windows select the same relative position, because
    the rightmost-min tie-break depends only on hash values and
    relative order. Per doc the engine reports selected-span counts,
    duplicated selected spans, and the duplicated fraction — the same
    thresholdable signal as the exact op at ~w/2× less shuffle.

    Spark shape at 100 TB: this IS the shuffle-volume lever for the
    span-dedup pass — selection happens ENTIRELY IN-ROW (one
    higher-order aggregate per window over the doc's own span-hash
    array; no explode, no per-window shuffle, no window function),
    and only the ~2m/(w+1) SELECTED hashes explode into the groupBy +
    equi-join-back pipeline the exact operator runs over all m. Same
    asymptotic shape (linear, no self-join), constant-factor shuffle
    cut — raise w to trade detection floor (K+w−1) for volume.
    Determinism: the rightmost-minimal rule is order-insensitive to
    engine execution (pure function of the hash array), mirrored in
    DuckDB as a per-(doc, window) ``ORDER BY h ASC, i DESC`` pick;
    counts are exact integers and dup_frac rounds at 4dp.
    (Base exact op: q_dedup_substring, dedup.py:368 — its docstring
    carries the Lee et al. 2022 framing.)"""
    tok = "split(text, ' ')"
    span_str = f"array_join(slice({tok}, i, {_SUBSTR_K}), ' ')"
    spans_expr = (
        f"case when size({tok}) >= {_SUBSTR_K} then "
        f"transform(sequence(1, size({tok}) - {_SUBSTR_K} + 1), "
        f"i -> {_H.format(x=span_str)}) "
        "else array() end"
    )
    max_b = "9223372036854775807L"
    # Let-binding via single-element transform(array(...), sp -> ...):
    # WITHOUT it, projection collapse inlines the md5 spans expression
    # into every element_at reference inside the selection lambdas and
    # the per-doc cost goes quadratic in span count (measured 74 s at
    # sf0.001 vs <1 s bound). As a lambda VARIABLE, sp is evaluated
    # once per row and every element_at(sp, p) is an O(1) lookup; the
    # inner binding does the same for the selected-position list.
    sel_pos = (
        "case when size(sp) >= 1 then array_distinct(transform("
        f"sequence(1, greatest(size(sp) - {_MINIMIZER_W} + 1, 1)), wi -> "
        f"aggregate(sequence(wi, least(wi + {_MINIMIZER_W} - 1, size(sp))), "
        f"named_struct('p', 0, 'v', {max_b}), "
        "(acc, p) -> case when element_at(sp, p) <= acc.v "
        "then named_struct('p', p, 'v', element_at(sp, p)) else acc end"
        ").p)) else array() end"
    )
    # Selected hashes as a flat array (the struct wrapper died in r15:
    # n_sel re-derives as Σ multiplicity downstream, so only the hash
    # list is needed). The expression is exploded DIRECTLY — not via a
    # named intermediate column — because InferFiltersFromGenerate only
    # fires on attribute-child explodes; with an attribute, the inferred
    # size()>0 filter later collapses into a SECOND full evaluation of
    # the winnowing expression below the exchange (measured: 2 md5
    # subtrees in the plan and ~1.7× the runtime).
    sel_arr = (
        f"element_at(transform(array({spans_expr}), sp -> "
        f"element_at(transform(array({sel_pos}), ps -> "
        "transform(ps, p -> element_at(sp, p))"
        "), 1)), 1)"
    )
    # r15 (guide §2.3/§7.2, same rewrite as q_dedup_substring): the r14
    # tail referenced `d` (whose sel_struct projection is the corpus-
    # dominant cost: md5 spans + winnowing lambdas) from THREE branches
    # (dup-detect, per-doc dup count, n_sel output), so the selection
    # expression executed 3×. Now ONE linear chain evaluates it once:
    # explode selected hashes → partial-aggregated groupBy (h, doc_id)
    # → count() window over h (rows per h ≡ distinct docs per h, one
    # row per pair) → one per-doc fold (n_sel = Σ multiplicity ≡
    # size(selh); n_dup = Σ multiplicity where nd > 1); sel-less docs
    # restored by a doc_id-only left join (no text on that branch).
    # Bit-identical: same integers, same 4dp rounding. The Window sits
    # AFTER selection, on the ~2m/(w+1) selected-hash aggregate — the
    # in-row selection contract (no per-(doc, window) exchange) is
    # untouched and still pinned in test_plans.py.
    from pyspark.sql.window import Window

    sel_counts = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)  # see _toks_df
        .select("doc_id", F.explode(F.expr(sel_arr)).alias("h"))
        .groupBy("h", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    perdoc = (
        sel_counts.withColumn(
            "nd", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_sel_nz"),
            F.sum(F.when(F.col("nd") > 1, F.col("c")).otherwise(F.lit(0))).alias(
                "n_dup"
            ),
        )
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_sel_nz"), F.lit(0))
            .cast("bigint")
            .alias("n_sel"),
            F.coalesce(F.col("n_dup"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_sel"),
            F.when(
                F.coalesce(F.col("n_sel_nz"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
                    / F.col("n_sel_nz"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


#: Spark SQL: 16-bit SimHash over precomputed token hashes (``tokh``
#: column). Bit b is set when more tokens have bit b of their 60-bit
#: hash set than clear.
_SIMHASH = (
    "aggregate(transform(sequence(0, 15), b -> "
    "  case when aggregate(tokh, 0L, (acc, h) -> acc + "
    "    (case when (shiftright(h, b) & 1) = 1 then 1 else -1 end)"
    "  ) > 0 then 1L else 0L end), "
    "0L, (acc, bit) -> acc * 2 + bit)"
)
@register(
    "q_dedup_simhash",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_D_TOKS} AS toks FROM documents),
    th AS (SELECT doc_id, lang, {_D_TOKH} AS tokh FROM t),
    fp AS (
      SELECT doc_id, lang,
             list_aggregate(
               list_transform(range(0, 16), b ->
                 CASE WHEN list_aggregate(
                        list_transform(tokh, h ->
                          CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END),
                        'sum') > 0
                      THEN CAST(2 ** (15 - b) AS BIGINT) ELSE 0 END),
               'sum') AS simhash
      FROM th),
    blocks AS (
      SELECT doc_id, lang, simhash, r.blk,
             (simhash >> (CAST(r.blk AS BIGINT) * 4)) & 15 AS bval
      FROM fp, range(0, 4) r(blk)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM blocks a JOIN blocks b
        ON a.lang = b.lang AND a.blk = b.blk AND a.bval = b.bval
       AND a.doc_id < b.doc_id)
    SELECT doc_id_a, doc_id_b,
           bit_count(xor(fa.simhash, fb.simhash)) AS hamming
    FROM cand
    JOIN fp fa ON fa.doc_id = cand.doc_id_a
    JOIN fp fb ON fb.doc_id = cand.doc_id_b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 16-bit sign-aggregate fingerprint per doc
    (portable md5-derived token hashes), then Hamming distance ≤ 3 within
    language.

    The pair join is *pigeonhole-blocked*, not all-pairs: split the 16
    bits into 4 blocks of 4; Hamming ≤ 3 means at most 3 bits differ, so
    at least one block is bit-identical. Exploding each doc into its 4
    (block, value) keys turns candidate generation into an equi join on
    (lang, block, value) — O(n·4) rows shuffled on a fine-grained key
    instead of O(n²) per language — and the Hamming verify runs only on
    bucket-mates. The recall of the blocked query is exactly 100% (a
    sound cover, not an approximation), so the oracle — blocked the same
    way — proves blocked ≡ all-pairs output."""
    fp = ckpt(
        _toks_df(spark, sf_dir)
        .withColumn("tokh", F.expr(_TOKH))
        .select("doc_id", "lang", F.expr(_SIMHASH).alias("simhash"))
        # r15: the 16-bit SimHash fold (an O(tokens·16) aggregate) fed
        # FOUR branches (pigeonhole self-join both sides + both verify
        # fingerprint joins) — materialize once.
    )
    blocks = fp.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("blk"),
        F.col("simhash"),
    ).select(
        "doc_id",
        "lang",
        "blk",
        F.expr("shiftright(simhash, blk * 4) & 15").alias("bval"),
    )
    a = blocks.select(F.col("doc_id").alias("doc_id_a"), "lang", "blk", "bval")
    b = blocks.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("lang").alias("lang_b"),
        F.col("blk").alias("blk_b"),
        F.col("bval").alias("bval_b"),
    )
    cand = (
        a.join(
            b,
            (a.lang == b.lang_b)
            & (a.blk == b.blk_b)
            & (a.bval == b.bval_b)
            & (a.doc_id_a < b.doc_id_b),
        )
        .select("doc_id_a", "doc_id_b")
        .distinct()
        # candidate ids are few bytes → AQE coalesces the DISTINCT to ~1
        # partition, but each row owes a fingerprint join + bit_count —
        # rebalance so verification keeps full parallelism (see minhash).
        .repartition(spark.sparkContext.defaultParallelism)
    )
    fa = fp.select(F.col("doc_id").alias("doc_id_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col("doc_id").alias("doc_id_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.expr("sh_a ^ sh_b"))
    return (
        cand.join(fa, "doc_id_a")
        .join(fb, "doc_id_b")
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= 3)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


_N_HASHES = 16
_N_BANDS = 4
_ROWS_PER_BAND = 4

#: MinHash signature from the single per-token md5: seed i's hash is the
#: affine family (a_i·h₃₁ + b_i) mod (2⁶¹-1) over the token
#: hash's low 31 bits, with per-seed multipliers a_i = odd((2654435761·(2i+1))
#: mod 2³¹) — genuinely distinct per seed (near-identical multipliers
#: correlate the permutations and collapse LSH recall) — and offsets
#: b_i = (1099511628211·i) mod p. One md5 per token; no int64 overflow
#: (2³¹·2³¹ + 2⁶¹ < 2⁶³).
_MINHASH_SIG = (
    f"transform(sequence(0, {_N_HASHES - 1}), i -> "
    "  array_min(transform(tokh, h -> "
    "    ((((2654435761 * (2 * i + 1)) % 2147483648) | 1) * (h & 2147483647) + (1099511628211 * i) % 2305843009213693951) % 2305843009213693951)))"
)
_D_MINHASH_SIG = (
    f"list_transform(range(0, {_N_HASHES}), i -> "
    "  list_min(list_transform(tokh, h -> "
    "    ((((2654435761 * (2 * i + 1)) % 2147483648) | 1) * (h & 2147483647) + (1099511628211 * i) % 2305843009213693951) % 2305843009213693951)))"
)


def _band_keyed(sigs: DataFrame) -> DataFrame:
    """Explode a minhash signature into its LSH band buckets: one row per
    (doc, band), with that band's signature slice joined into a string
    bucket key — the equi-join key that replaces the all-pairs compare.
    Shared by q_dedup_minhash / _capped / _incremental (one definition,
    one place to change the banding scheme)."""
    return sigs.select(
        "doc_id",
        "lang",
        "sz",
        F.explode(F.sequence(F.lit(0), F.lit(_N_BANDS - 1))).alias("band"),
        F.col("sig"),
    ).select(
        "doc_id",
        "lang",
        "sz",
        "band",
        F.array_join(
            F.slice(
                F.col("sig"), F.col("band") * _ROWS_PER_BAND + 1, _ROWS_PER_BAND
            ),
            "_",
        ).alias("bucket"),
    )


def _band_candidates(spark: SparkSession, keyed: DataFrame) -> DataFrame:
    """Self-join banded rows on (lang, band, bucket) → distinct candidate
    id pairs, carrying the τ=0.95 size-ratio band (sound: J ≥ τ ⇒
    τ ≤ |A|/|B| ≤ 1/τ) so bucket collisions are pruned BEFORE they cost
    an exact-Jaccard intersect. Candidate ids only — token arrays join
    back once per side in _verify_jaccard, so the dedup-DISTINCT
    shuffles 2 longs per row, not 2 arrays."""
    a = keyed.select(
        F.col("doc_id").alias("doc_id_a"), "lang", "band", "bucket", "sz"
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("lang").alias("lang_b"),
        F.col("band").alias("band_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        a.join(
            b,
            (a.lang == b.lang_b)
            & (a.band == b.band_b)
            & (a.bucket == b.bucket_b)
            & (a.doc_id_a < b.doc_id_b)
            & (a.sz * 100 >= b.sz_b * 95)
            & (b.sz_b * 100 >= a.sz * 95),
        )
        .select("doc_id_a", "doc_id_b")
        .distinct()
        # AQE coalesces the distinct's shuffle to ~1 partition (candidate
        # ids are only a few MB) but each row still owes an array-Jaccard
        # — rebalance so verification keeps full parallelism.
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _verify_jaccard(cand: DataFrame, toks: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs over the int hash
    arrays (distinct tokens ↔ distinct hashes — int equality beats
    string equality across millions of pairs). NO broadcast hint on
    either side: the token table IS the corpus (O(100 TB) — it can
    never be broadcast), so both verify joins shuffle on doc_id and AQE
    picks the strategy from actual sizes. |A∪B| = |A|+|B|−|A∩B| for
    distinct sets: one intersect per pair, no materialized union."""
    ta = toks.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("tokh").alias("tokh_a"),
        F.col("sz").alias("sz_a"),
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("tokh").alias("tokh_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("tokh_a", "tokh_b"))
    return (
        cand.join(ta, "doc_id_a")
        .join(tb, "doc_id_b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .where(F.col("jaccard") >= _JACCARD_TAU)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )



@register(
    "q_dedup_minhash",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_D_TOKS} AS toks FROM documents),
    th AS (SELECT doc_id, lang, toks, {_D_TOKH} AS tokh FROM t),
    sigs AS (SELECT doc_id, lang, len(toks) AS sz, {_D_MINHASH_SIG} AS sig FROM th),
    bands AS (
      SELECT doc_id, lang, sz, sig,
             CAST(UNNEST(range({_N_BANDS})) AS INT) AS band
      FROM sigs),
    keyed AS (
      SELECT doc_id, lang, sz, band,
             array_to_string(sig[band * {_ROWS_PER_BAND} + 1 :
                                 band * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}],
                             '_') AS bucket
      FROM bands),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM keyed a JOIN keyed b
        ON a.lang = b.lang AND a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
       AND a.sz * 100 >= b.sz * 95 AND b.sz * 100 >= a.sz * 95)
    SELECT doc_id_a, doc_id_b,
           len(list_intersect(ta.tokh, tb.tokh))::DOUBLE
             / (len(ta.tokh) + len(tb.tokh)
                - len(list_intersect(ta.tokh, tb.tokh))) AS jaccard
    FROM cand
    JOIN th ta ON ta.doc_id = cand.doc_id_a
    JOIN th tb ON tb.doc_id = cand.doc_id_b
    WHERE len(list_intersect(ta.tokh, tb.tokh))::DOUBLE
            / (len(ta.tokh) + len(tb.tokh)
               - len(list_intersect(ta.tokh, tb.tokh))) >= {_JACCARD_TAU}
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding — the dedup pipeline that scales:
    shingle → 16 minhashes → 4 bands of 4 → band-bucket join for
    candidates → exact-Jaccard verification at τ=0.95.

    Detection probability at τ: 1-(1-τ⁴)⁴ ≈ 0.999 for τ=0.95. Every hash
    is the portable md5-based integer, so candidates — and therefore the
    final verified pair set — are deterministic and identical to the SQL
    oracle's replication of the same pipeline. Cost model at 100 TB:
    no O(n²) anywhere; one shuffle on (lang, band, bucket).

    The bucket join also carries the τ=0.95 size-ratio band (sound:
    J ≥ τ ⇒ τ ≤ |A|/|B| ≤ 1/τ, same as q_dedup_near) — it prunes
    bucket-collision pairs BEFORE they cost an exact-Jaccard intersect,
    which on a boilerplate-heavy corpus (candidates ≈ all pairs) is the
    dominant verify cost. Results are provably unchanged: every pruned
    pair would have failed the τ filter anyway, and the oracle carries
    the identical band."""
    # r15 (guide §1.2 step 1 / §8 "fingerprints only" pattern): the
    # four consumers of the tokenized corpus (LSH self-join a-side,
    # b-side, verify a-side, verify b-side) each re-evaluated the
    # corpus-dominant tokenize+md5 chain, and the banded self-join
    # additionally evaluated the 16-hash minhash signature per side.
    # Materialize the token-hash frame ONCE (lazy localCheckpoint —
    # the same intra-query materialization the CC loop and PageRank
    # already use; recomputed from parquet on every invocation) and the
    # banded bucket keys ONCE (doc-id×4 small rows, no arrays), so
    # tokenize+md5 runs 1× and the signature 1×. At 100 TB this is the
    # guide §8 trade made explicit: store the fingerprint table once
    # (MEMORY_AND_DISK, spills) instead of recomputing the corpus
    # tokenization four times through four parquet scans.
    toks = ckpt(
        _toks_df(spark, sf_dir)
        .withColumn("tokh", F.expr(_TOKH))
        .select("doc_id", "lang", "sz", "tokh")
    )
    sigs = toks.select("doc_id", "lang", "sz", F.expr(_MINHASH_SIG).alias("sig"))
    keyed = ckpt(_band_keyed(sigs))
    cand = _band_candidates(spark, keyed)
    return _verify_jaccard(cand, toks)


_EMBED_TAU = 0.40  # demonstration threshold: testdata vectors are random
# N(0,σ) so true near-dup cosines (≥0.95) don't occur; production τ≈0.95+.


@register(
    "q_dedup_embed",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           (round(list_cosine_similarity(a.e, b.e), 4) + 0.0) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= {_EMBED_TAU}
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, computed with higher-order
    functions only (zip_with dot product + aggregate norms) — no UDF, no
    Python. EXACT REFERENCE ONLY: the all-pairs join is the
    *verification* shape; at 100 TB use ``q_dedup_embed_lsh``
    (random-hyperplane banding → equi-join candidates), whose
    cartesian-free plan is machine-enforced by
    tests/test_plans.py::test_dedup_embed_lsh_is_cartesian_free."""
    # Norms are per-vector facts: compute each of the 2 norms once per
    # vector BEFORE the pair join (per-pair recompute would cost 2M extra
    # aggregates); repartition because the single-file scan would
    # otherwise run the whole O(n²) loop in one task.
    norm = F.sqrt(
        F.aggregate(F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    e = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        )
        .withColumn("nrm", norm)
    )
    a = e.select(
        F.col("vec_id").alias("vec_id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos = dot / (F.col("na") * F.col("nb"))
    return (
        a.join(b, a.vec_id_a < b.vec_id_b)
        .withColumn("cos_raw", cos)
        .where(F.col("cos_raw") >= _EMBED_TAU)
        .select(
            "vec_id_a", "vec_id_b", rz(F.col("cos_raw"), 4).alias("cosine")
        )
    )


# --- random-hyperplane LSH for embedding near-dup (q_dedup_embed_lsh) ----

#: 32 deterministic Rademacher (±1) hyperplanes over the 64-dim
#: embedding space, banded 4×8. Fixed seed → identical literal matrix
#: in the Spark expression and the DuckDB oracle.
_RHP_BANDS = 4
_RHP_ROWS = 8
_RHP_DIM = 64


def _rhp_matrix(n_rows: int = _RHP_BANDS * _RHP_ROWS, seed: int = 42) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    m = rng.integers(0, 2, size=(n_rows, _RHP_DIM)) * 2 - 1
    return [[float(x) for x in row] for row in m]


def _rhp_sql_literal(fmt_row, matrix: list[list[float]] | None = None) -> str:
    rows = [
        fmt_row([("1.0" if x > 0 else "-1.0") for x in row])
        for row in (matrix if matrix is not None else _rhp_matrix())
    ]
    return ", ".join(rows)


#: Spark: nested array literal of the hyperplane matrix.
_RHP_SPARK = (
    "array(" + _rhp_sql_literal(lambda r: "array(" + ",".join(r) + ")") + ")"
)
#: DuckDB: the same matrix as a list-of-lists literal.
_RHP_DUCK = "[" + _rhp_sql_literal(lambda r: "[" + ",".join(r) + "]") + "]"

#: Spark: sign bits of the 32 projections of a double-array column `e`.
_RHP_BITS = (
    f"transform({_RHP_SPARK}, row -> "
    "if(aggregate(zip_with(e, row, (x, y) -> x * y), 0D, (acc, x) -> acc + x) >= 0D, 1, 0))"
)
#: DuckDB: the same sign bits.
_D_RHP_BITS = (
    f"list_transform({_RHP_DUCK}, row -> "
    "CASE WHEN list_dot_product(e, row) >= 0 THEN 1 ELSE 0 END)"
)


def _rhp_oracle(cap: int | None) -> str:
    """Single source for BOTH embed-LSH oracles: the sign-bit banding
    chain, optionally narrowed by a per-(band, bucket) nomination cap
    (row_number ≤ cap, vec_id ascending) before candidate pairing."""
    cap_cte, src = "", "keyed"
    if cap is not None:
        cap_cte = f"""capped AS (
      SELECT vec_id, band, bucket FROM (
        SELECT vec_id, band, bucket,
               row_number() OVER (PARTITION BY band, bucket
                                  ORDER BY vec_id ASC) AS rn
        FROM keyed)
      WHERE rn <= {cap}),
    """
        src = "capped"
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    bits AS (SELECT vec_id, e, {_D_RHP_BITS} AS b FROM v),
    keyed AS (
      SELECT vec_id, e, band,
             array_to_string(b[band * {_RHP_ROWS} + 1 :
                               band * {_RHP_ROWS} + {_RHP_ROWS}], '') AS bucket
      FROM (SELECT *, CAST(UNNEST(range({_RHP_BANDS})) AS INT) AS band
            FROM bits)),
    {cap_cte}cand AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM {src} a JOIN {src} b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT vec_id_a, vec_id_b,
           (round(list_cosine_similarity(va.e, vb.e), 4) + 0.0) AS cosine
    FROM cand
    JOIN v va ON va.vec_id = cand.vec_id_a
    JOIN v vb ON vb.vec_id = cand.vec_id_b
    WHERE list_cosine_similarity(va.e, vb.e) >= {_EMBED_TAU}
    """


def _rhp_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (vec_id, e, nrm) base frame both banding variants sketch
    over — also the pair-verify stage's vector side: a clean NARROW
    scan, so callers never have to reconstruct per-vector rows by
    dedup-shuffling a band-exploded frame (the r7 review finding:
    that dedup pushed bands × ~1 KB vector rows through an exchange
    the second scan avoids entirely)."""
    norm = F.sqrt(F.aggregate(F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        )
        .withColumn("nrm", norm)
    )


def _rhp_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared sign-LSH banding: embeddings → (vec_id, e, nrm, band,
    bucket) — one row per (vector, band)."""
    v = _rhp_vecs(spark, sf_dir).withColumn("bits", F.expr(_RHP_BITS))
    return v.select(
        "vec_id",
        "e",
        "nrm",
        F.explode(F.sequence(F.lit(0), F.lit(_RHP_BANDS - 1))).alias("band"),
        F.col("bits"),
    ).select(
        "vec_id",
        "e",
        "nrm",
        "band",
        F.expr(
            f"array_join(slice(bits, band * {_RHP_ROWS} + 1, {_RHP_ROWS}), '')"
        ).alias("bucket"),
    )


def _rhp_pairs(keyed: DataFrame, vecs: DataFrame) -> DataFrame:
    """Shared candidate-pair + verify stage over a (possibly capped)
    keyed frame: (band, bucket) equi-join over ID-ONLY rows, id-pair
    dedup, THEN two equi-joins against ``vecs`` (the _rhp_vecs base
    scan — a superset of keyed's vectors is fine, the cand ids filter
    it) pull the vectors back in for the exact cosine and τ filter.

    The candidate join and its dedup shuffle carry 16-byte id pairs —
    the r6 formulation selected both 64-dim vectors through the band
    join and dragged ~1 KB/row through the dropDuplicates exchange,
    which at the measured 100× decade (≈20M candidates) is ~20 GB of
    shuffle for rows the dedup immediately collapses; re-joining the
    two vector sides after the dedup shuffles the collapsed pair list
    twice at 16 bytes/row plus one corpus-sized vector build side.
    Measured at the 200k-vector decade (q_dedup_embed_lsh_scaled):
    127 s → 24.9 s (id-lean dedup) → 17.8 s (vector side from the
    _rhp_vecs scan), alpha 0.83 → 0.44 (SCALE.md)."""
    a = keyed.select(F.col("vec_id").alias("vec_id_a"), "band", "bucket")
    b = keyed.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("band").alias("band_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cand = (
        a.join(
            b,
            (a.band == b.band_b)
            & (a.bucket == b.bucket_b)
            & (F.col("vec_id_a") < F.col("vec_id_b")),
        )
        .select("vec_id_a", "vec_id_b")
        .dropDuplicates(["vec_id_a", "vec_id_b"])
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        cand.join(
            vecs.select(
                F.col("vec_id").alias("vec_id_a"),
                F.col("e").alias("ea"),
                F.col("nrm").alias("na"),
            ),
            "vec_id_a",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("vec_id_b"),
                F.col("e").alias("eb"),
                F.col("nrm").alias("nb"),
            ),
            "vec_id_b",
        )
        .withColumn("cos_raw", dot / (F.col("na") * F.col("nb")))
        .where(F.col("cos_raw") >= _EMBED_TAU)
        .select("vec_id_a", "vec_id_b", rz("cos_raw", 4).alias("cosine"))
    )



@register("q_dedup_embed_lsh", oracle=_rhp_oracle(None))
def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH — the SCALE
    path that q_dedup_embed's docstring promises (that op is the exact
    all-pairs reference): 32 fixed Rademacher hyperplanes give each
    vector a 32-bit sign sketch (SimHash for cosine, Charikar 2002);
    banding 4×8 turns candidate generation into an equi-join on
    (band, 8-bit bucket) — no cross join anywhere, total work
    O(n·bands) + verification of colliding pairs only.

    Collision math: P(bit agree) = 1 − θ/π. At the production τ≈0.95
    (θ≈18°) a 4×8 scheme catches ~90% of true pairs while random pairs
    collide at ~1.6%; at this corpus's demonstration τ=0.40 the curve
    is flatter (recall ~10%) because sign-LSH is built for the high-τ
    regime — the oracle replicates the identical pipeline, so the
    output is hash-checked regardless of where the S-curve sits.

    The hyperplane matrix is a deterministic literal compiled into BOTH
    engines' expressions; sign agreement across engines holds unless a
    projection lands within float-rounding distance of exactly 0
    (P ≈ 1e-13 per projection — and the differential gate would catch
    it).

    CAVEAT (measured, SCALE.md): the FIXED 4×8 banding saturates — 256
    buckets/band means bucket population grows n/256 and candidate
    volume O(n²/2⁸); at 200k vectors the verify join filled the spill
    disk and died. This op is kept as the fixed-width oracle twin;
    production corpora should use ``q_dedup_embed_lsh_scaled`` (bucket
    width grows ~log₂ n with the corpus — candidate density stays flat)
    or ``q_dedup_embed_lsh_capped`` (hard per-bucket nomination cap)."""
    return _rhp_pairs(_rhp_keyed(spark, sf_dir), _rhp_vecs(spark, sf_dir))


# --- corpus-scaled sign-LSH (q_dedup_embed_lsh_scaled) --------------------
#
# The principled fix for the measured saturation above: bits-per-band is
# an INDEX-BUILD parameter that must grow with the corpus. Rule (both
# engines compute it in-query from the same count):
#
#     w = clamp(ceil(log2(n)) - 6, 4, 16)
#
# -6 targets ~2^6 = 64 vectors per bucket: bucket population n/2^w stays
# roughly constant as n grows, so candidate volume stays O(n·bands·64)
# — linear — instead of O(n²/2^bits). SCALE.md's own arithmetic: 12 bits
# at 200k vectors (this formula: ceil(17.6)-6 = 12 ✓). The clamp floor
# keeps tiny corpora from degenerating to 1-bit buckets; the ceiling
# bounds the hyperplane matrix (4 bands × 16 rows = 64 hyperplanes,
# generated once as a deterministic literal in both engines).

_RHP_SC_BANDS = 4
_RHP_SC_WMAX = 16
_RHP_SC_WMIN = 4
_RHP_SC_LOG_OFF = 6  # targets ~2^6 vectors/bucket at any corpus size

_RHP_SC_MATRIX = _rhp_matrix(_RHP_SC_BANDS * _RHP_SC_WMAX, seed=43)
_RHP_SC_SPARK = (
    "array("
    + _rhp_sql_literal(lambda r: "array(" + ",".join(r) + ")", _RHP_SC_MATRIX)
    + ")"
)
_RHP_SC_DUCK = (
    "[" + _rhp_sql_literal(lambda r: "[" + ",".join(r) + "]", _RHP_SC_MATRIX) + "]"
)
_RHP_SC_BITS = (
    f"transform({_RHP_SC_SPARK}, row -> "
    "if(aggregate(zip_with(e, row, (x, y) -> x * y), 0D, (acc, x) -> acc + x) >= 0D, 1, 0))"
)
_D_RHP_SC_BITS = (
    f"list_transform({_RHP_SC_DUCK}, row -> "
    "CASE WHEN list_dot_product(e, row) >= 0 THEN 1 ELSE 0 END)"
)

#: the width rule as SQL over a count column ``n`` — shared text so the
#: two engines cannot drift. ceil(log2(n)) is cross-engine-safe for
#: integer n: log2 of an exact power of two is exact in IEEE, and any
#: other integer sits ≥2⁻ᵏ·ln2 away from an integer log — ~10⁶ ulps.
_RHP_SC_W_SQL = (
    f"CAST(LEAST(GREATEST(CEIL(LOG2(n)) - {_RHP_SC_LOG_OFF}, "
    f"{_RHP_SC_WMIN}), {_RHP_SC_WMAX}) AS INT)"
)


def _rhp_scaled_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scaled sign-LSH banding: embeddings → (vec_id, e, nrm,
    band, bucket) with bucket width w = clamp(⌈log₂ n⌉−6, 4, 16). The
    width is computed IN-PLAN from a one-row count aggregate broadcast
    against the corpus — no driver round-trip; each band's bits occupy a
    fixed 16-slot stripe of the 64-bit sketch and the bucket key is the
    stripe's w-prefix."""
    v = _rhp_vecs(spark, sf_dir).withColumn("bits", F.expr(_RHP_SC_BITS))
    nn = v.agg(F.count(F.lit(1)).alias("n"))
    return (
        v.crossJoin(F.broadcast(nn))
        .withColumn("w", F.expr(_RHP_SC_W_SQL))
        .select(
            "vec_id",
            "e",
            "nrm",
            F.explode(F.sequence(F.lit(0), F.lit(_RHP_SC_BANDS - 1))).alias("band"),
            "bits",
            "w",
        )
        .select(
            "vec_id",
            "e",
            "nrm",
            "band",
            F.expr(
                f"array_join(slice(bits, band * {_RHP_SC_WMAX} + 1, w), '')"
            ).alias("bucket"),
        )
    )


#: the scaled-width candidate chain (v → wd → bits → keyed → cand),
#: shared by the pair oracle below and the CC/survivor compositions.
_RHP_SC_CANDS = f"""v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    wd AS (SELECT {_RHP_SC_W_SQL} AS w
           FROM (SELECT COUNT(*) AS n FROM v)),
    bits AS (SELECT vec_id, e, {_D_RHP_SC_BITS} AS b FROM v),
    keyed AS MATERIALIZED (
      SELECT vec_id, e, band,
             array_to_string(b[band * {_RHP_SC_WMAX} + 1 :
                               band * {_RHP_SC_WMAX} + w], '') AS bucket
      FROM (SELECT *, CAST(UNNEST(range({_RHP_SC_BANDS})) AS INT) AS band
            FROM bits)
      CROSS JOIN wd),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM keyed a JOIN keyed b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)"""

_RHP_SC_ORACLE = f"""
    WITH {_RHP_SC_CANDS}
    SELECT vec_id_a, vec_id_b,
           (round(list_cosine_similarity(va.e, vb.e), 4) + 0.0) AS cosine
    FROM cand
    JOIN v va ON va.vec_id = cand.vec_id_a
    JOIN v vb ON vb.vec_id = cand.vec_id_b
    WHERE list_cosine_similarity(va.e, vb.e) >= {_EMBED_TAU}
    """

#: the same chain extended to verified pairs(doc_id_a, doc_id_b) — the
#: shape _cc_oracle_prefix composes over (vec ids double as doc ids:
#: embeddings ⋈ documents is 1:1 by construction, TESTDATA.md).
_RHP_SC_PAIRS_CTE = (
    _RHP_SC_CANDS
    + f""",
    pairs AS MATERIALIZED (
      SELECT vec_id_a AS doc_id_a, vec_id_b AS doc_id_b
      FROM cand
      JOIN v va ON va.vec_id = cand.vec_id_a
      JOIN v vb ON vb.vec_id = cand.vec_id_b
      WHERE list_cosine_similarity(va.e, vb.e) >= {_EMBED_TAU})"""
)


@register("q_dedup_embed_lsh_scaled", oracle=_RHP_SC_ORACLE)
def q_dedup_embed_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH with CORPUS-SCALED bucket
    width — the production embedding-dedup path. q_dedup_embed_lsh's
    fixed 4×8 banding measurably dies at 200k vectors (SCALE.md:
    256 buckets/band saturate, candidate volume O(n²/2⁸), spill-disk
    exhaustion); here bits-per-band is the index-build parameter it
    should be, w = clamp(⌈log₂ n⌉−6, 4, 16), so bucket population
    n/2^w — and with it candidate density — stays roughly CONSTANT as
    the corpus grows. At the gate ladder the rule lands on w=4 (500
    vectors) and w=5 (2000), exercising the dynamic width across SFs;
    at the measured 200k-vector stress decade it gives the 12 bits
    SCALE.md's arithmetic calls for. FAISS and production LSH systems
    size hash width by corpus the same way.

    Narrower-than-8 buckets at gate scale mean MORE collisions, so this
    op's recall at small n is ≥ the fixed twin's; the exact-cosine
    verify keeps precision exact at any width. The width computation is
    one count aggregate broadcast into the plan (no driver round-trip),
    and the hyperplane stripe layout (16 slots per band, w-prefix used)
    keeps the bucket key a contiguous slice in both engines.
    ``q_dedup_embed_lsh_capped`` remains the belt-and-braces runtime
    guard for a mis-sized index; composing the cap over this keyed
    frame is one WindowGroupLimit if both are ever wanted."""
    return _rhp_pairs(_rhp_scaled_keyed(spark, sf_dir), _rhp_vecs(spark, sf_dir))


def _scaled_pair_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scaled-LSH pair graph as a (doc_id_a, doc_id_b) frame — the
    single pair source both semantic-dedup compositions iterate over
    (vec ids double as doc ids: embeddings ⋈ documents is 1:1 by
    construction, TESTDATA.md)."""
    return q_dedup_embed_lsh_scaled(spark, sf_dir).select(
        F.col("vec_id_a").alias("doc_id_a"),
        F.col("vec_id_b").alias("doc_id_b"),
    )


@register(
    "q_dedup_cluster_embed",
    oracle=_cc_oracle_prefix(pairs_cte=_RHP_SC_PAIRS_CTE)
    + """
    SELECT doc_id AS vec_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
    FROM comp
    """,
)
def q_dedup_cluster_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EMBEDDING near-dup graph — the
    semantic-dedup cluster shape (SemDeDup-style: embedding cosine
    catches paraphrases token-level Jaccard misses). Completes the
    embedding side to parity with the token side's chain
    (q_dedup_minhash → q_dedup_cluster_lsh): pairs come from the
    corpus-scaled sign-LSH (q_dedup_embed_lsh_scaled, width ~log₂ n),
    the CC stage is the SAME ``_cluster_over_pairs`` body (local
    contraction + min-label loop), so the composition inherits both parents'
    measured scale behavior (α 0.44 pair generation, α<0.7 CC family).
    Determinism: the exact-cosine verify gate (τ with argmin gaps far
    above ulp noise) makes the pair set — and therefore the exact
    min-label fixpoint — identical in both engines."""
    pairs = _scaled_pair_frame(spark, sf_dir)
    return _cluster_over_pairs(spark, pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "n_members"
    )


@register(
    "q_dedup_survivor_embed",
    oracle=_cc_oracle_prefix(pairs_cte=_RHP_SC_PAIRS_CTE)
    + """,
    sized AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM comp)
    SELECT s.doc_id, s.cluster_id, s.n_members,
           ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                              ORDER BY d.n_chars DESC, s.doc_id ASC) = 1
             AS keep
    FROM sized s JOIN documents d ON d.doc_id = s.doc_id
    """,
)
def q_dedup_survivor_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end SEMANTIC dedup decision: within each
    embedding-similarity cluster keep the longest document (min doc_id
    ties) — the cross-modal composition the multimodal join exists for
    (vec_id = doc_id 1:1, TESTDATA.md), reusing the shared
    quality-survivor body (_survivor_over_clusters) with its gated
    cluster-side broadcast. This is the q_dedup_survivor_lsh twin with
    the pair source swapped from token MinHash to corpus-scaled
    sign-LSH: the full chain a SemDeDup-style pipeline ships (embed →
    scaled-LSH candidates → exact-cosine verify → CC → quality pick)."""
    clusters = _cluster_over_pairs(spark, _scaled_pair_frame(spark, sf_dir))
    return _survivor_over_clusters(spark, sf_dir, clusters)


_BUCKET_CAP = 40  # max docs per (lang, band, bucket) before it's "boilerplate"


@register(
    "q_dedup_minhash_capped",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_D_TOKS} AS toks FROM documents),
    th AS (SELECT doc_id, lang, toks, {_D_TOKH} AS tokh FROM t),
    sigs AS (SELECT doc_id, lang, len(toks) AS sz, {_D_MINHASH_SIG} AS sig FROM th),
    bands AS (
      SELECT doc_id, lang, sz, sig,
             CAST(UNNEST(range({_N_BANDS})) AS INT) AS band
      FROM sigs),
    keyed AS (
      SELECT doc_id, lang, sz, band,
             array_to_string(sig[band * {_ROWS_PER_BAND} + 1 :
                                 band * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}],
                             '_') AS bucket
      FROM bands),
    sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY lang, band, bucket) AS bucket_n
      FROM keyed),
    kept AS (SELECT * FROM sized WHERE bucket_n <= {_BUCKET_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM kept a JOIN kept b
        ON a.lang = b.lang AND a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
       AND a.sz * 100 >= b.sz * 95 AND b.sz * 100 >= a.sz * 95)
    SELECT doc_id_a, doc_id_b,
           len(list_intersect(ta.tokh, tb.tokh))::DOUBLE
             / (len(ta.tokh) + len(tb.tokh)
                - len(list_intersect(ta.tokh, tb.tokh))) AS jaccard
    FROM cand
    JOIN th ta ON ta.doc_id = cand.doc_id_a
    JOIN th tb ON tb.doc_id = cand.doc_id_b
    WHERE len(list_intersect(ta.tokh, tb.tokh))::DOUBLE
            / (len(ta.tokh) + len(tb.tokh)
               - len(list_intersect(ta.tokh, tb.tokh))) >= {_JACCARD_TAU}
    """,
)
def q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with a hot-bucket cap — the production skew guard:
    a band bucket holding more than {40} documents is boilerplate (a
    shared header, a template), and its |bucket|² candidate pairs are
    noise that would dominate the join. Buckets above the cap are
    DROPPED before pair generation (a windowed count per bucket key —
    one extra pass, no extra shuffle: the count partitions by the same
    key the join shuffles on).

    This is deliberately lossy (pairs only visible in a hot bucket are
    sacrificed) — the uncapped q_dedup_minhash is the reference result;
    the oracle replicates the same deterministic cap, so even the lossy
    variant is hash-checked. At 100 TB the cap is what keeps the worst
    bucket from holding a million docs and the job from dying on one
    task."""
    from pyspark.sql.window import Window

    # r15: same single-materialization shape as q_dedup_minhash — the
    # token-hash frame and the (capped) banded keys each compute once.
    toks = ckpt(
        _toks_df(spark, sf_dir)
        .withColumn("tokh", F.expr(_TOKH))
        .select("doc_id", "lang", "sz", "tokh")
    )
    sigs = toks.select("doc_id", "lang", "sz", F.expr(_MINHASH_SIG).alias("sig"))
    bw = Window.partitionBy("lang", "band", "bucket")
    kept = ckpt(
        _band_keyed(sigs)
        .withColumn("bucket_n", F.count(F.lit(1)).over(bw))
        .where(F.col("bucket_n") <= _BUCKET_CAP)
        .drop("bucket_n")
    )
    cand = _band_candidates(spark, kept)
    return _verify_jaccard(cand, toks)


@register(
    "q_dedup_cluster",
    oracle=_cc_oracle_prefix()
    + """
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
    FROM comp
    """,
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-duplicate pair graph — the
    step that turns PAIRS into dedup DECISIONS: transitively-linked
    docs form one cluster (A≈B, B≈C ⇒ {A,B,C} even if A,C aren't a
    pair), the canonical survivor is the cluster's minimum doc_id, and
    everything else is droppable. Output: every doc that appears in at
    least one pair, its cluster id, and the cluster size.

    Spark shape: local contraction, then a verifying probe loop.
    ``_local_contract`` runs a numpy union-find over each pair
    partition in one ``mapInPandas`` pass and replaces the partition's
    pairs by star edges to its local component minimum. The contracted
    edges feed ``_min_label_propagate``: min-label propagation with
    pointer jumping to a fixpoint — each round every vertex takes the
    min of (its own label, its neighbors' labels, its label's label).
    When one partition holds the whole pair graph
    (every size the tests and benchmark reach), the stars already name
    the component minima: the loop converges at probe 0 and probe 1
    only verifies it. The oracle computes the same fixpoint over the
    uncontracted graph — see ``_cc_oracle_prefix``.

    Pair-source note: this op rides ``q_dedup_near`` — the EXACT
    lang-blocked O(n²) pair generator — so its wall-time scales
    quadratically with per-language corpus size (measured alpha≈1.25 at
    the 10× stress step, SCALE.md). That makes it the exact reference;
    the corpus-scale variant is ``q_dedup_cluster_lsh``, identical CC
    over the MinHash-LSH verified pairs.

    Correctness: contraction keeps every vertex and exactly the
    connectivity of the pairs. In the loop, labels always name a vertex
    of the same component (init self; mins of in-component values stay
    in-component), decrease monotonically, and at the fixpoint
    ``l(u) ≤ l(v)`` across every (symmetric) edge forces equality per
    component, pinned at the component min ``m`` by ``l(m) = m`` — for
    any partitioning of the pairs.

    Iteration cost control:

    - the pair graph is orders of magnitude smaller than the corpus
      (only docs in ≥1 near-dup pair), so the stage sizes its OWN
      parallelism from the measured edge count (~500k edges/task)
      instead of inheriting corpus-scale ``shuffle.partitions``; on a
      billion-edge pair graph it grows back to the full width, and each
      task contracts its ~250k pairs before the loop starts.
    - the probe rounds the loop still needs are cut by contraction:
      with one partition, 1 verifying probe; with several, only the
      cross-partition joins are left to propagate.
    - edges pre-hash-partitioned on ``src`` once, so each round's join
      reshuffles only the label side.
    - ``localCheckpoint`` truncates the growing lineage each probe (at
      cluster scale: ``checkpoint`` to durable storage, so a lost
      executor doesn't recompute every prior round)."""
    return _cluster_over_pairs(spark, q_dedup_near(spark, sf_dir))


def _pair_ckpt(pair_df: DataFrame) -> tuple[DataFrame, int]:
    """A (doc_id_a, doc_id_b) pair frame, eagerly checkpointed, and its
    row count, observed on that checkpoint job — the count that sizes
    the CC and PageRank parallelism costs no job of its own."""
    return ckpt_observed(
        pair_df.select("doc_id_a", "doc_id_b"), F.count(F.lit(1))
    )


def _pair_parts(spark: SparkSession, n_pairs: int) -> int:
    """Partitions for the iterative stages over ``n_pairs`` pairs: one
    per ~500k directed edges, capped at ``shuffle.partitions``."""
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(shuffle_parts, 2 * n_pairs // 500_000 + 1))


def _cluster_over_pairs(
    spark: SparkSession, pair_df: DataFrame, n_pairs: int | None = None
) -> DataFrame:
    """Shared CC body: (doc_id_a, doc_id_b) pairs → (doc_id, cluster_id,
    n_members). Checkpoints PAIRS (the smallest frame) once with
    ``_pair_ckpt``, whose observed row count sizes ``parts`` (one
    partition per ~500k edges). The pairs are coalesced to ``parts``
    partitions and each is contracted by ``_local_contract`` — a narrow
    ``mapInPandas`` pass, so pair generation runs once — into symmetric
    star edges to its local component minima. ``_min_label_propagate``
    materializes those edges once in their partitioned form and
    iterates to the global component-min fixpoint: with ``parts == 1``
    the stars are already the answer and the loop only verifies it.
    Pass ``n_pairs`` with a frame ``_pair_ckpt`` already returned, to
    share that one materialization (q_dedup_survivor_pagerank feeds the
    same pair frame to CC and PageRank)."""
    from pyspark.sql.window import Window

    if n_pairs is None:
        pair_df, n_pairs = _pair_ckpt(pair_df)
    parts = _pair_parts(spark, n_pairs)
    edges = (
        pair_df.select("doc_id_a", "doc_id_b")
        .coalesce(parts)
        .mapInPandas(_local_contract, "src long, dst long")
    )
    labels = _min_label_propagate(edges, parts)
    w = Window.partitionBy("cluster_id")
    return labels.select("doc_id", F.col("label").alias("cluster_id")).withColumn(
        "n_members", F.count(F.lit(1)).over(w)
    )


def _local_contract(batches):
    """``mapInPandas`` body: one partition's ``(doc_id_a, doc_id_b)``
    pairs → symmetric star edges ``(src, dst)`` over the partition-local
    components. A vectorised union-find (min-label steps + pointer
    jumping over ``np.unique`` vertex indices, to a fixpoint) labels
    each vertex with its local component minimum ``r``; every vertex
    ``v`` then emits ``(v, r)`` and, unless it is ``r``, ``(r, v)`` —
    so every vertex is still a ``dst``, each root keeps a self-loop,
    and the edge set links exactly the vertices the input pairs did.
    An empty partition emits nothing."""
    import numpy as np
    import pandas as pd

    frames = [b for b in batches if len(b)]
    if not frames:
        return
    a = np.concatenate([f["doc_id_a"].to_numpy(np.int64) for f in frames])
    b = np.concatenate([f["doc_id_b"].to_numpy(np.int64) for f in frames])
    verts, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = idx[: len(a)], idx[len(a):]
    # verts is sorted, so the min index of a component is its min vertex
    label = np.arange(len(verts))
    while True:
        prev = label.copy()
        np.minimum.at(label, ia, label[ib])
        np.minimum.at(label, ib, label[ia])
        label = label[label]
        if np.array_equal(label, prev):
            break
    root = verts[label]
    leaf = label != np.arange(len(verts))
    yield pd.DataFrame(
        {
            "src": np.concatenate([verts, root[leaf]]),
            "dst": np.concatenate([root, verts[leaf]]),
        }
    )


#: MinHash-LSH pair chain for DuckDB, ending in pairs(doc_id_a,
#: doc_id_b) — byte-identical semantics to q_dedup_minhash's oracle.
_LSH_PAIRS_CTE = f"""t AS MATERIALIZED (SELECT doc_id, lang, {_D_TOKS} AS toks FROM documents),
    th AS MATERIALIZED (SELECT doc_id, lang, toks, {_D_TOKH} AS tokh FROM t),
    sigs AS MATERIALIZED (
      SELECT doc_id, lang, len(toks) AS sz, {{sig}} AS sig FROM th),
    bands AS (
      SELECT doc_id, lang, sz, sig,
             CAST(UNNEST(range({{n_bands}})) AS INT) AS band
      FROM sigs),
    keyed AS MATERIALIZED (
      SELECT doc_id, lang, sz, band,
             array_to_string(sig[band * {{rows}} + 1 :
                                 band * {{rows}} + {{rows}}],
                             '_') AS bucket
      FROM bands),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM keyed a JOIN keyed b
        ON a.lang = b.lang AND a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
       AND a.sz * 100 >= b.sz * 95 AND b.sz * 100 >= a.sz * 95),
    pairs AS MATERIALIZED (
      SELECT doc_id_a, doc_id_b
      FROM cand
      JOIN th ta ON ta.doc_id = cand.doc_id_a
      JOIN th tb ON tb.doc_id = cand.doc_id_b
      WHERE len(list_intersect(ta.tokh, tb.tokh))::DOUBLE
              / (len(ta.tokh) + len(tb.tokh)
                 - len(list_intersect(ta.tokh, tb.tokh))) >= {_JACCARD_TAU})"""


@register(
    "q_dedup_cluster_lsh",
    oracle=_cc_oracle_prefix(
        pairs_cte=_LSH_PAIRS_CTE.format(
            sig=_D_MINHASH_SIG, n_bands=_N_BANDS, rows=_ROWS_PER_BAND
        )
    )
    + """
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
    FROM comp
    """,
)
def q_dedup_cluster_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH verified pair graph —
    the CORPUS-SCALE cluster shape (r6). ``q_dedup_cluster`` rides the
    exact O(n²) q_dedup_near pair join and measured alpha≈1.25 at the
    10× stress step; this variant swaps in q_dedup_minhash's banded
    candidates (O(n·bands) generation, one (lang,band,bucket) shuffle)
    with identical CC iteration on top. Both engines run the SAME
    deterministic md5 minhash pipeline, so clusters are hash-checkable:
    detection probability 1-(1-τ⁴)⁴ ≈ 0.999 at τ=0.95 — a missed
    candidate pair could only split a cluster identically in both
    engines, never diverge them."""
    return _cluster_over_pairs(spark, q_dedup_minhash(spark, sf_dir))


@register(
    "q_dedup_survivor",
    oracle=_cc_oracle_prefix()
    + """,
    sized AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM comp)
    SELECT s.doc_id, s.cluster_id, s.n_members,
           ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                              ORDER BY d.n_chars DESC, s.doc_id ASC) = 1
             AS keep
    FROM sized s JOIN documents d ON d.doc_id = s.doc_id
    """,
)
def q_dedup_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION a training pipeline actually ships: within
    each near-duplicate cluster keep the highest-quality member (here
    longest text, ``n_chars``; ties broken by min doc_id for
    determinism) and flag the rest droppable — min-doc_id survivors
    (q_dedup_cluster's canonical label) systematically bias toward
    whatever crawled first, so real pipelines pick by quality instead.

    Spark shape: the iterative CC labels are vertex-sized (only docs in
    ≥1 pair), so the quality join broadcasts the CLUSTER side against
    the corpus scan — no corpus shuffle; the survivor choice is one
    row_number window partitioned by cluster, sized by the pair graph,
    not the corpus.

    The broadcast hint is GATED on a counted cluster-table size
    (ADVICE.md r5): in a boilerplate-heavy corpus "docs in ≥1 pair" can
    be a large fraction of the corpus, and an unconditional hint would
    blow through Spark's 8 GB broadcast limit / driver memory. The
    count is one cheap job over the already-checkpointed CC labels;
    past the threshold the plan falls back to a shuffle join, which is
    the correct answer at that size."""
    return _survivor_over_clusters(spark, sf_dir, q_dedup_cluster(spark, sf_dir))


def _survivor_over_clusters(
    spark: SparkSession, sf_dir: str, clusters: DataFrame
) -> DataFrame:
    """Shared survivor body: (doc_id, cluster_id, n_members) clusters →
    quality-ranked keep flags (longest n_chars wins, min doc_id ties)."""
    from pyspark.sql.window import Window

    if clusters.count() <= _SURVIVOR_BROADCAST_MAX_ROWS:
        clusters = F.broadcast(clusters)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(d, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "n_members", "keep")
    )


@register(
    "q_dedup_survivor_lsh",
    oracle=_cc_oracle_prefix(
        pairs_cte=_LSH_PAIRS_CTE.format(
            sig=_D_MINHASH_SIG, n_bands=_N_BANDS, rows=_ROWS_PER_BAND
        )
    )
    + """,
    sized AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM comp)
    SELECT s.doc_id, s.cluster_id, s.n_members,
           ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                              ORDER BY d.n_chars DESC, s.doc_id ASC) = 1
             AS keep
    FROM sized s JOIN documents d ON d.doc_id = s.doc_id
    """,
)
def q_dedup_survivor_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection over the MinHash-LSH cluster
    path — the end-to-end corpus-scale dedup DECISION (r6): LSH banded
    candidates → exact-Jaccard verify → iterative CC → per-cluster
    quality winner. Composes ``q_dedup_cluster_lsh`` with the shared
    survivor window; every stage is the measured-sublinear shape
    (SCALE.md: cluster_lsh alpha 0.37 at the 10× stress step), so this
    is the variant a 5B-document pipeline actually runs; the exact
    twins (q_dedup_survivor over q_dedup_near pairs) remain the oracle
    references."""
    return _survivor_over_clusters(
        spark, sf_dir, q_dedup_cluster_lsh(spark, sf_dir)
    )


def _min_label_propagate(
    edges: DataFrame, parts: int, max_probes: int = 50
) -> DataFrame:
    """Connected-components core: min-label propagation + pointer
    jumping over a symmetric ``(src, dst)`` edge list; returns
    ``(doc_id, label)`` with label = component-min vertex.

    Convergence check is join-free: labels only ever DECREASE, so the
    label sum strictly decreases every probe that changed anything and
    is constant exactly at the fixpoint — one cheap aggregate instead
    of a labels⋈labels diff per round. Pointer jumping makes paths whose
    ids increase along the path converge in O(log diameter) probes;
    on long paths with random ids the minimum still advances only a few
    vertices a probe, so ``max_probes`` bounds those diameters, and
    hitting the guard raises instead of returning a wrong fixpoint.
    ``_cluster_over_pairs`` contracts each partition first, so the loop
    only propagates across partitions.

    Probe-cost control (r5, ~2× faster at sf0.1 where per-round JOB
    overhead dominates — 2.4 s vs 4.4 s warm):

    - **probe 0 is join-free**: initial labels are self-pointers, so
      both the neighbor join (labels ≡ identity on src) and the jump
      join (l∘l ≡ l) degenerate — the first refinement is exactly
      ``min(v, min of src over incoming edges)``, one aggregate over
      the edge list. This also replaces the separate vertex-set
      ``distinct`` that used to build the initial label table.
    - **the sum rides the checkpoint**: each round's labels are
      checkpointed eagerly and the convergence sum is observed on that
      checkpoint job (``ckpt_observed``), so a probe runs no separate
      aggregate job. Lineage still truncates at every probe.
    - **no explicit repartition in the loop**: AQE coalesces each
      round's shuffle to match the actual (tiny) label table; at
      billion-edge scale the same plan widens to shuffle.partitions.
    """
    edges = ckpt(edges.repartition(parts, "src"), eager=True)
    labels, prev_sum = ckpt_observed(
        edges.groupBy(F.col("dst").alias("doc_id"))
        .agg(F.min("src").alias("m"))
        .select("doc_id", F.least("doc_id", "m").alias("label")),
        F.sum("label"),
    )
    for _ in range(max_probes):
        nbr = edges.join(labels, edges.src == labels.doc_id).select(
            F.col("dst").alias("doc_id"), "label"
        )
        jump = (
            labels.alias("a")
            .join(labels.alias("b"), F.col("a.label") == F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_id"),
                F.col("b.label").alias("label"),
            )
        )
        labels, cur_sum = ckpt_observed(
            labels.unionByName(nbr)
            .unionByName(jump)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label")),
            F.sum("label"),
        )
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"label propagation did not converge in {max_probes} rounds"
    )


#: the deterministic "incoming batch" split: ~10% of the corpus plays
#: the role of a freshly-crawled shard, the rest is the existing index.
_BATCH_PRED = "doc_id % 10 = 7"


@register(
    "q_dedup_incremental",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_D_TOKS} AS toks FROM documents),
    th AS (SELECT doc_id, lang, toks, {_D_TOKH} AS tokh FROM t),
    sigs AS (SELECT doc_id, lang, len(toks) AS sz, tokh,
                    {_D_MINHASH_SIG} AS sig FROM th),
    keyed AS (
      SELECT doc_id, lang, sz, tokh, band,
             array_to_string(sig[band * {_ROWS_PER_BAND} + 1 :
                                 band * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}],
                             '_') AS bucket
      FROM (SELECT *, CAST(UNNEST(range({_N_BANDS})) AS INT) AS band
            FROM sigs)),
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, i.doc_id AS index_id
      FROM keyed b JOIN keyed i
        ON b.lang = i.lang AND b.band = i.band AND b.bucket = i.bucket
      WHERE b.doc_id % 10 = 7 AND NOT (i.doc_id % 10 = 7)
        AND b.sz * 100 >= i.sz * 95 AND i.sz * 100 >= b.sz * 95),
    ver AS (
      SELECT batch_id, index_id,
             len(list_intersect(tb.tokh, ti.tokh))::DOUBLE
               / (len(tb.tokh) + len(ti.tokh)
                  - len(list_intersect(tb.tokh, ti.tokh))) AS jaccard
      FROM cand
      JOIN th tb ON tb.doc_id = cand.batch_id
      JOIN th ti ON ti.doc_id = cand.index_id),
    hit AS (
      SELECT batch_id, MIN(index_id) AS match_doc_id
      FROM ver WHERE jaccard >= {_JACCARD_TAU} GROUP BY batch_id)
    SELECT t.doc_id,
           CASE WHEN hit.match_doc_id IS NULL
                THEN 'new' ELSE 'dup' END AS status,
           hit.match_doc_id,
           round(v2.jaccard, 6) AS jaccard
    FROM t
    LEFT JOIN hit ON hit.batch_id = t.doc_id
    LEFT JOIN ver v2 ON v2.batch_id = hit.batch_id
                    AND v2.index_id = hit.match_doc_id
    WHERE {_BATCH_PRED}
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production crawl shape: dedup an
    INCOMING BATCH against an EXISTING INDEX instead of the corpus
    against itself. Every new document either survives ('new') or is
    attributed to its existing duplicate ('dup' + the matched index
    doc, deterministically the smallest matching doc_id, with the
    verified Jaccard).

    Why this is its own operator and not q_dedup_minhash with a filter:
    the candidate join is batch-bands ⋈ index-bands — at 100 TB the
    index side's band table is PRECOMPUTED ONCE and stored partitioned
    by (lang, band, bucket) (here it is derived inline because the
    testdata has no persisted index), so a daily batch shuffles only
    its OWN bands (|batch| ≪ |index|) and probes the index in place;
    nothing ever re-signatures the historical corpus. Batch-internal
    duplicates are deliberately out of scope (run q_dedup_minhash
    within the batch first) — the two-phase split is what keeps the
    incremental cost proportional to the batch.

    The verify step re-joins token sets by doc_id (shuffle on doc_id,
    no broadcast — same discipline as q_dedup_near), and the final
    attribution is a left join so 'new' documents are present in the
    output with NULL match columns."""
    # r15: same single-materialization shape as q_dedup_minhash — the
    # token-hash frame and the banded keys each compute once (the
    # batch/index split consumes `keyed` twice, verify `toks` twice).
    toks = ckpt(
        _toks_df(spark, sf_dir)
        .withColumn("tokh", F.expr(_TOKH))
        .select("doc_id", "lang", "sz", "tokh")
    )
    sigs = toks.select("doc_id", "lang", "sz", F.expr(_MINHASH_SIG).alias("sig"))
    keyed = ckpt(_band_keyed(sigs))
    is_batch = F.expr(_BATCH_PRED)
    kb = keyed.where(is_batch).select(
        F.col("doc_id").alias("batch_id"), "lang", "band", "bucket",
        F.col("sz").alias("sz_b"),
    )
    ki = keyed.where(~is_batch).select(
        F.col("doc_id").alias("index_id"), "lang", "band", "bucket",
        F.col("sz").alias("sz_i"),
    )
    cand = (
        kb.join(ki, ["lang", "band", "bucket"])
        .where(
            (F.col("sz_b") * 100 >= F.col("sz_i") * 95)
            & (F.col("sz_i") * 100 >= F.col("sz_b") * 95)
        )
        .select("batch_id", "index_id")
        .distinct()
    )
    tb = toks.select(F.col("doc_id").alias("batch_id"), F.col("tokh").alias("th_b"))
    ti = toks.select(F.col("doc_id").alias("index_id"), F.col("tokh").alias("th_i"))
    inter = F.size(F.array_intersect("th_b", "th_i"))
    ver = (
        cand.join(tb, "batch_id")
        .join(ti, "index_id")
        .withColumn(
            "jaccard",
            inter.cast("double")
            / (F.size("th_b") + F.size("th_i") - inter),
        )
        .select("batch_id", "index_id", "jaccard")
    )
    hit = (
        ver.where(F.col("jaccard") >= _JACCARD_TAU)
        .groupBy("batch_id")
        .agg(F.min("index_id").alias("match_doc_id"))
    )
    # re-join ver on BOTH keys (renamed to avoid self-join ambiguity) to
    # recover the Jaccard of the chosen match.
    best = hit.join(
        ver.withColumnRenamed("batch_id", "b2").withColumnRenamed(
            "index_id", "m2"
        ),
        (F.col("batch_id") == F.col("b2"))
        & (F.col("match_doc_id") == F.col("m2")),
    ).select("batch_id", "match_doc_id", "jaccard")
    batch_docs = toks.where(is_batch).select("doc_id")
    return (
        batch_docs.join(best, batch_docs.doc_id == best.batch_id, "left")
        .select(
            "doc_id",
            F.when(F.col("match_doc_id").isNull(), "new")
            .otherwise("dup")
            .alias("status"),
            "match_doc_id",
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


@register(
    "q_dedup_bucket_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_D_TOKS} AS toks FROM documents),
    th AS (SELECT doc_id, lang, toks, {_D_TOKH} AS tokh FROM t),
    sigs AS (SELECT doc_id, lang, len(toks) AS sz,
                    {_D_MINHASH_SIG} AS sig FROM th),
    bands AS (
      SELECT doc_id, lang, sz, sig,
             CAST(UNNEST(range({_N_BANDS})) AS INT) AS band
      FROM sigs),
    keyed AS (
      SELECT doc_id, lang, band,
             array_to_string(sig[band * {_ROWS_PER_BAND} + 1 :
                                 band * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}],
                             '_') AS bucket
      FROM bands),
    per_bucket AS (
      SELECT lang, band, bucket, COUNT(*) AS k
      FROM keyed GROUP BY lang, band, bucket)
    SELECT lang, band,
           COUNT(*) AS n_buckets,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           CAST(MAX(k) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN k > {_BUCKET_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS hot_buckets,
           CAST(SUM(k * (k - 1) / 2) AS BIGINT) AS implied_pairs
    FROM per_bucket GROUP BY lang, band
    """,
)
def q_dedup_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-population diagnostics per (lang, band) — the
    observability job that DECIDES between q_dedup_minhash and its
    hot-bucket-capped variant before the pair join runs, exactly as
    q_agg_heavy_hitters decides salted vs plain joins: ``implied_pairs``
    (Σ k·(k-1)/2 over buckets) is the candidate-join output size BEFORE
    paying for it, ``max_bucket``/``hot_buckets`` (> {_BUCKET_CAP})
    expose boilerplate clusters that would dominate it. At 5B docs you
    run this after every signature build: it costs one groupBy on the
    band table (the same shuffle key the pair join would use, a tiny
    fraction of its cost) and its output is |lang|·|bands| rows.

    Integer-exact everywhere (counts and k·(k-1)/2 on BIGINT), so the
    hash gate needs no float tolerance."""
    sigs = (
        _toks_df(spark, sf_dir)
        .withColumn("tokh", F.expr(_TOKH))
        .select("doc_id", "lang", "sz", F.expr(_MINHASH_SIG).alias("sig"))
    )
    per_bucket = (
        _band_keyed(sigs)
        .groupBy("lang", "band", "bucket")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return per_bucket.groupBy("lang", "band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("k").alias("n_docs"),
        F.max("k").alias("max_bucket"),
        F.sum(F.when(F.col("k") > _BUCKET_CAP, 1).otherwise(0)).alias(
            "hot_buckets"
        ),
        F.sum(F.col("k") * (F.col("k") - 1) / 2).cast("bigint").alias(
            "implied_pairs"
        ),
    )


@register(
    "q_dedup_lsh_recall",
    oracle="WITH "
    + _LSH_PAIRS_CTE.format(
        sig=_D_MINHASH_SIG, n_bands=_N_BANDS, rows=_ROWS_PER_BAND
    )
    + f""",
    true_pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM th a JOIN th b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND len(a.toks) * 100 >= len(b.toks) * 95
       AND len(b.toks) * 100 >= len(a.toks) * 95
      WHERE len(list_intersect(a.tokh, b.tokh))::DOUBLE
              / (len(a.tokh) + len(b.tokh)
                 - len(list_intersect(a.tokh, b.tokh))) >= {_JACCARD_TAU}),
    n AS (SELECT (SELECT COUNT(*) FROM true_pairs) AS n_true,
                 (SELECT COUNT(*) FROM cand) AS n_candidates,
                 (SELECT COUNT(*) FROM pairs) AS n_verified)
    SELECT n_true::BIGINT AS n_true,
           n_candidates::BIGINT AS n_candidates,
           n_verified::BIGINT AS n_verified,
           (n_true - n_verified)::BIGINT AS n_missed,
           (CASE WHEN n_true = 0 THEN NULL
                 ELSE (10000 * n_verified) // n_true END)::BIGINT AS recall_bp,
           (CASE WHEN n_candidates = 0 THEN NULL
                 ELSE (10000 * n_verified) // n_candidates END)::BIGINT
             AS precision_bp
    FROM n
    """,
)
def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall/precision AUDIT — quantifies what the banding scheme
    actually trades, as a hash-checked one-row artifact instead of the
    textbook formula: ``n_true`` exact Jaccard-τ pairs (the all-pairs
    ground truth, q_dedup_near's shape over the same md5 token hashes
    the verify stage uses), ``n_candidates`` banded bucket-join pairs,
    ``n_verified`` candidates surviving exact verification
    (= true ∩ candidates, so ``n_missed`` ≥ 0 structurally).
    ``recall_bp``/``precision_bp`` are basis points via integer
    division (non-negative operands — truncate ≡ floor across engines).

    Detection theory says 1-(1-τ⁴)⁴ ≈ 0.999 at τ=0.95 under 4×4
    banding; this op MEASURES it on the corpus at hand, which is how a
    production pipeline validates a banding change before trusting it.

    Scale note: the ground-truth side is inherently quadratic (that is
    the definition of recall), so at 100 TB this runs on a SAMPLED
    stratum — e.g. one lang block or a doc_id range — while the
    candidate/verified legs are the production-linear LSH shape; the
    audit's cost is the sample's n², never the corpus's. The three
    counts reduce to one-row frames that broadcast-fan-out, so the
    final assembly adds no corpus-sized shuffle."""
    # r15: same single-materialization shape as q_dedup_minhash, and
    # here it pays 6×→1×: the tokenize+md5 chain fed the LSH self-join
    # (2 sides), the verify joins (2 sides) AND the quadratic
    # ground-truth self-join (2 sides).
    toks = ckpt(
        _toks_df(spark, sf_dir)
        .withColumn("tokh", F.expr(_TOKH))
        .select("doc_id", "lang", "sz", "tokh")
    )
    sigs = toks.select(
        "doc_id", "lang", "sz", F.expr(_MINHASH_SIG).alias("sig")
    )
    cand = _band_candidates(spark, ckpt(_band_keyed(sigs)))
    verified = _verify_jaccard(cand, toks)
    # the shared ground-truth definition, over the SAME md5 hash family
    # the verify stage uses — verified ⊆ true holds exactly.
    true_pairs = _exact_tau_pairs(toks, "tokh")

    nt = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nv = verified.agg(F.count(F.lit(1)).alias("n_verified"))
    bp = "cast((10000 * {num}) div {den} as bigint)"
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nv))
        .select(
            F.col("n_true").cast("bigint").alias("n_true"),
            F.col("n_candidates").cast("bigint").alias("n_candidates"),
            F.col("n_verified").cast("bigint").alias("n_verified"),
            (F.col("n_true") - F.col("n_verified"))
            .cast("bigint")
            .alias("n_missed"),
            F.when(
                F.col("n_true") > 0,
                F.expr(bp.format(num="n_verified", den="n_true")),
            ).alias("recall_bp"),
            F.when(
                F.col("n_candidates") > 0,
                F.expr(bp.format(num="n_verified", den="n_candidates")),
            ).alias("precision_bp"),
        )
    )


#: nomination cap per (band, bucket) for the embedding-LSH skew guard —
#: bounds candidate volume at buckets × cap² regardless of corpus size.
_EMB_BUCKET_CAP = 40


@register("q_dedup_embed_lsh_capped", oracle=_rhp_oracle(_EMB_BUCKET_CAP))
def q_dedup_embed_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_embed_lsh with a per-(band, bucket) nomination cap — the
    shipped answer to the MEASURED second-decade failure in SCALE.md:
    with fixed 4×8 banding the 256-bucket space saturates at ~10⁵
    vectors (bucket population ~n/256, candidate volume O(n²/2^bits))
    and the plain variant filled the spill disk at 200k vectors. The
    cap keeps only the first ``_EMB_BUCKET_CAP`` members per bucket
    (deterministic: smallest vec_ids), bounding candidates at
    buckets × cap² — a CONSTANT ceiling independent of corpus size —
    at the cost of recall inside over-full buckets, exactly
    q_dedup_minhash_capped's trade. At sf ≤ 0.1 the cap rarely binds,
    so this op's hash gate also certifies the plain variant's pair
    math. Production sizing note: the principled fix is wider buckets
    (bits ~ log₂ n at index build); the cap is the runtime guard that
    makes even a mis-sized index survivable."""
    # vector side = the UNCAPPED base scan (superset of capped's ids —
    # the cand-id joins filter it); never rebuilt from the capped frame
    return _rhp_pairs(
        _rhp_capped(_rhp_keyed(spark, sf_dir)), _rhp_vecs(spark, sf_dir)
    )


def _rhp_capped(keyed: DataFrame, cap: int | None = None) -> DataFrame:
    """Single source for the per-(band, bucket) nomination cap: keep the
    ``cap`` smallest vec_ids per bucket (deterministic). Shared by the
    production op (q_dedup_embed_lsh_capped) and the recall audit's
    capped leg, so a cap-policy change can never make the audit measure
    a different cap than production ships. Drops the vector payload
    BEFORE the row_number exchange — the window needs only (vec_id,
    band, bucket), and pushing the ~1 KB/row (e, nrm) columns through
    it is the same waste the r7 review removed from _rhp_pairs;
    downstream re-joins vectors from the narrow _rhp_vecs scan. The
    cap literal is read at CALL time (not bound as a default) so the
    oracle-sensitivity suite's runtime constant mutation reaches it."""
    from pyspark.sql.window import Window

    if cap is None:
        cap = _EMB_BUCKET_CAP
    w = Window.partitionBy("band", "bucket").orderBy(F.col("vec_id").asc())
    return (
        keyed.select("vec_id", "band", "bucket")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cap)
        .drop("rn")
    )


@register(
    "q_dedup_embed_recall",
    oracle=f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    bits AS (SELECT vec_id, {_D_RHP_BITS} AS b FROM v),
    keyed AS MATERIALIZED (
      SELECT vec_id, band,
             array_to_string(b[band * {_RHP_ROWS} + 1 :
                               band * {_RHP_ROWS} + {_RHP_ROWS}], '') AS bucket
      FROM (SELECT *, CAST(UNNEST(range({_RHP_BANDS})) AS INT) AS band
            FROM bits)),
    capped AS MATERIALIZED (
      SELECT vec_id, band, bucket FROM (
        SELECT vec_id, band, bucket,
               row_number() OVER (PARTITION BY band, bucket
                                  ORDER BY vec_id ASC) AS rn
        FROM keyed)
      WHERE rn <= {_EMB_BUCKET_CAP}),
    cand_p AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM keyed a JOIN keyed b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    ver_p AS MATERIALIZED (
      SELECT vec_id_a, vec_id_b FROM cand_p
      JOIN v va ON va.vec_id = cand_p.vec_id_a
      JOIN v vb ON vb.vec_id = cand_p.vec_id_b
      WHERE list_cosine_similarity(va.e, vb.e) >= {_EMBED_TAU}),
    cand_c AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    ver_c AS MATERIALIZED (
      SELECT vec_id_a, vec_id_b FROM cand_c
      JOIN v va ON va.vec_id = cand_c.vec_id_a
      JOIN v vb ON vb.vec_id = cand_c.vec_id_b
      WHERE list_cosine_similarity(va.e, vb.e) >= {_EMBED_TAU}),
    true_pairs AS MATERIALIZED (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.e, b.e) >= {_EMBED_TAU}),
    n AS (SELECT (SELECT COUNT(*) FROM true_pairs) AS n_true,
                 (SELECT COUNT(*) FROM ver_p) AS n_lsh,
                 (SELECT COUNT(*) FROM ver_c) AS n_capped)
    SELECT n_true::BIGINT AS n_true,
           n_lsh::BIGINT AS n_verified_lsh,
           n_capped::BIGINT AS n_verified_capped,
           (CASE WHEN n_true = 0 THEN NULL
                 ELSE (10000 * n_lsh) // n_true END)::BIGINT AS recall_bp_lsh,
           (CASE WHEN n_true = 0 THEN NULL
                 ELSE (10000 * n_capped) // n_true END)::BIGINT
             AS recall_bp_capped
    FROM n
    """,
)
def q_dedup_embed_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH recall AUDIT — q_dedup_lsh_recall's embedding twin,
    measuring BOTH knobs at once: ``recall_bp_lsh`` (what 4×8
    random-hyperplane banding loses vs the exact all-pairs cosine-τ
    ground truth) and ``recall_bp_capped`` (what the per-bucket
    nomination cap additionally surrenders inside over-full buckets —
    the number q_dedup_embed_lsh_capped's docstring could only assert
    'rarely binds' until this op measured it: at sf0.1 BOTH legs
    verify the same 122 pairs — the cap costs 0 bp here). Basis points
    via integer division: non-negative operands, truncate ≡ floor
    across engines.

    Reading the absolute numbers honestly: at the demonstration
    τ=0.40 recall is LOW (606 bp at sf0.001, 1326 bp at sf0.1) and
    theory says it must be — a cosine-0.40 pair agrees with a random
    hyperplane with p = 1 − acos(0.40)/π ≈ 0.63, so an 8-bit band
    matches with 0.63⁸ ≈ 2.5% and any-of-4 with ≈ 9.6%. The 4×8
    banding is sized for the production regime (τ≈0.95 ⇒ per-bit
    0.90, any-of-4 ≈ 89%), and the demonstration τ sits inside the
    random-vector cosine bulk (see _EMBED_TAU's note). That the audit
    exposes this instead of flattering the index is the point of
    registering it.

    Scale note: the ground-truth leg is the exact all-pairs join by
    definition of recall — at 100 TB this audits a SAMPLED stratum
    (a vec_id range), while both banding legs keep the production
    bucket-join shape. The capped leg's candidate volume is bounded at
    buckets × cap² regardless of corpus size, so the audit's marginal
    cost over the plain leg is constant."""
    vecs = _rhp_vecs(spark, sf_dir)
    keyed = _rhp_keyed(spark, sf_dir)
    plain = _rhp_pairs(keyed, vecs)
    # the SAME shared cap stage the production op runs — the audit can
    # never measure a different cap policy than production ships.
    capped = _rhp_pairs(_rhp_capped(keyed), vecs)
    true_pairs = q_dedup_embed(spark, sf_dir)

    nt = true_pairs.agg(F.count(F.lit(1)).alias("n_true"))
    np_ = plain.agg(F.count(F.lit(1)).alias("n_verified_lsh"))
    nc = capped.agg(F.count(F.lit(1)).alias("n_verified_capped"))
    bp = "cast((10000 * {num}) div n_true as bigint)"
    return (
        nt.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(nc))
        .select(
            F.col("n_true").cast("bigint").alias("n_true"),
            F.col("n_verified_lsh").cast("bigint").alias("n_verified_lsh"),
            F.col("n_verified_capped")
            .cast("bigint")
            .alias("n_verified_capped"),
            F.when(
                F.col("n_true") > 0,
                F.expr(bp.format(num="n_verified_lsh")),
            ).alias("recall_bp_lsh"),
            F.when(
                F.col("n_true") > 0,
                F.expr(bp.format(num="n_verified_capped")),
            ).alias("recall_bp_capped"),
        )
    )


_PR_D = 0.85  # damping — single source for BOTH engines' literals
#: stated as its own literal (not computed 1 - _PR_D) so the double is
#: exactly the decimal 0.15 both engines parse; the assert pins the pair.
_PR_ONE_MINUS_D = 0.15
assert _PR_D + _PR_ONE_MINUS_D == 1.0
_PR_ITERS = 3  # unrolled iterations, identical in both engines


def _pr_cte_suffix() -> str:
    """The PR iteration CTEs, for appending to ``_cc_oracle_prefix``'s
    chain (which already defines ``pairs`` and the SAME symmetric
    ``edges``): deg → nv → r0..r{_PR_ITERS}."""
    parts = [
        """deg AS MATERIALIZED (SELECT s AS doc_id, COUNT(*) AS deg
           FROM edges GROUP BY s),
    nv AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS MATERIALIZED (
      SELECT deg.doc_id, deg.deg,
             (1.0 / CAST(nv.n AS DOUBLE)) AS r
      FROM deg CROSS JOIN nv)""",
    ]
    for k in range(_PR_ITERS):
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
      SELECT v.doc_id, v.deg,
             (({_PR_ONE_MINUS_D!r} / CAST(nv.n AS DOUBLE))
              + {_PR_D!r} * (CAST(sq.sq AS DOUBLE) / 1e9)) AS r
      FROM deg v
      JOIN (SELECT e.d AS doc_id,
                   SUM(CAST(FLOOR((r.r / CAST(r.deg AS DOUBLE)) * 1e9 + 0.5)
                            AS BIGINT)) AS sq
            FROM edges e JOIN r{k} r ON r.doc_id = e.s
            GROUP BY e.d) sq
        ON sq.doc_id = v.doc_id
      CROSS JOIN nv)"""
        )
    return ",\n    ".join(parts)


def _pagerank_oracle() -> str:
    """DuckDB CTE chain for the standalone PageRank op: LSH pairs →
    symmetric edges → the SHARED ``_pr_cte_suffix`` iteration chain
    (single source for the PR SQL — q_dedup_survivor_pagerank appends
    the same suffix to the CC prefix) → final select."""
    parts = [
        _LSH_PAIRS_CTE.format(
            sig=_D_MINHASH_SIG, n_bands=_N_BANDS, rows=_ROWS_PER_BAND
        ),
        """edges AS MATERIALIZED (SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
              UNION ALL
              SELECT doc_id_b, doc_id_a FROM pairs)""",
        _pr_cte_suffix(),
    ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT doc_id, deg, round(r, 9) AS pr FROM r{_PR_ITERS}
    """
    )


@register("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the MinHash-LSH near-duplicate graph — centrality
    within duplicate neighborhoods (an alternative survivorship signal:
    the most-linked member is the canonical one), and the engine's
    third iterative-algorithm exemplar after connected components
    (q_dedup_cluster) and Lloyd's k-means (q_emb_kmeans).

    Scale shape (100 TB): per iteration, ONE edges ⋈ ranks equi-join on
    the vertex key plus one groupBy(dst) partial aggregate — the wire
    carries (dst, int64 partial sum) pairs. The iteration count is a
    fixed plan-unrolled constant (no driver data path); edges come from
    the banded-LSH candidate pipeline, never an all-pairs join. The
    symmetric pair graph has no dangling vertices (every vertex has
    deg ≥ 1 by construction), so no dangling-mass correction term is
    needed.

    Determinism: cross-vertex sums are quantized int64
    (FLOOR(contrib·10⁹+0.5)) — partition-order independent and
    bit-identical across engines; all scalar arithmetic ((1−d)/N + d·s)
    is written with identical association in both, so the rank vector
    is exactly equal at every iteration boundary, not merely close."""
    return _pagerank_over_pairs(spark, q_dedup_minhash(spark, sf_dir))


def _pagerank_over_pairs(
    spark: SparkSession, pair_df: DataFrame, n_pairs: int | None = None
) -> DataFrame:
    """Shared PageRank body: (doc_id_a, doc_id_b) pairs → (doc_id, deg,
    pr). The pairs are materialized once with ``_pair_ckpt`` (pass
    ``n_pairs`` with a frame it already returned, as for
    ``_cluster_over_pairs``), so the ``_PR_ITERS``-deep plan re-reads
    them, not the LSH pipeline.

    Edges are explicitly repartitioned on the join key with the SAME
    size-derived bound ``_min_label_propagate`` uses and lazily
    checkpointed: without this, the ``_PR_ITERS``-deep stack of
    edge ⋈ rank joins re-derives edge partitioning per stage and the
    100× stress run OOMs a single heap-bound task (measured; the CC
    path with bounded parts survives the same decade at 94 s)."""
    if n_pairs is None:
        pair_df, n_pairs = _pair_ckpt(pair_df)
    edges = ckpt(
        pair_df.select(F.col("doc_id_a").alias("s"), F.col("doc_id_b").alias("d"))
        .unionByName(
            pair_df.select(
                F.col("doc_id_b").alias("s"), F.col("doc_id_a").alias("d")
            )
        )
        .repartition(_pair_parts(spark, n_pairs), "s")
    )
    deg = edges.groupBy(F.col("s").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    nv = deg.agg(F.count(F.lit(1)).alias("n"))
    r = (
        deg.crossJoin(F.broadcast(nv))
        .select(
            "doc_id",
            "deg",
            (F.lit(1.0) / F.col("n").cast("double")).alias("r"),
        )
    )
    for _ in range(_PR_ITERS):
        contrib = edges.join(
            r.select(
                F.col("doc_id").alias("s"),
                F.floor((F.col("r") / F.col("deg").cast("double")) * 1e9 + 0.5)
                .cast("bigint")
                .alias("cq"),
            ),
            "s",
        )
        sq = contrib.groupBy(F.col("d").alias("doc_id")).agg(
            F.sum("cq").alias("sq")
        )
        r = (
            deg.join(sq, "doc_id")
            .crossJoin(F.broadcast(nv))
            .select(
                "doc_id",
                "deg",
                (
                    (F.lit(_PR_ONE_MINUS_D) / F.col("n").cast("double"))
                    + F.lit(_PR_D) * (F.col("sq").cast("double") / F.lit(1e9))
                ).alias("r"),
            )
        )
    return r.select("doc_id", "deg", F.round("r", 9).alias("pr"))


@register(
    "q_dedup_survivor_pagerank",
    oracle=_cc_oracle_prefix(
        pairs_cte=_LSH_PAIRS_CTE.format(
            sig=_D_MINHASH_SIG, n_bands=_N_BANDS, rows=_ROWS_PER_BAND
        )
    )
    + ",\n    "
    + _pr_cte_suffix()
    + f""",
    sized AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM comp)
    SELECT s.doc_id, s.cluster_id, s.n_members, round(r.r, 9) AS pr,
           ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                              ORDER BY round(r.r, 9) DESC, s.doc_id ASC) = 1
             AS keep
    FROM sized s JOIN r{_PR_ITERS} r ON r.doc_id = s.doc_id
    """,
)
def q_dedup_survivor_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality-based survivorship: within each near-dup cluster keep
    the member with the highest PageRank in the pair graph — "the
    version everything else duplicates" — an alternative to
    q_dedup_survivor's length-quality pick that needs NO document
    metadata, only the graph itself (useful when quality signals are
    unavailable or gameable). Composition: the SAME materialized LSH
    pair frame feeds both the CC labeling and the PageRank iterations,
    so the LSH pipeline runs once; the survivor choice is one window
    over the vertex-sized (label ⋈ rank) join — corpus never shuffles.

    Cross-engine determinism is inherited from both parents: CC labels
    are exact min-labels, ranks are bit-identical by quantized-sum
    construction, and the keep flag breaks exact rank ties by min
    doc_id."""
    from pyspark.sql.window import Window

    pairs, n_pairs = _pair_ckpt(q_dedup_minhash(spark, sf_dir))
    clusters = _cluster_over_pairs(spark, pairs, n_pairs)
    pr = _pagerank_over_pairs(spark, pairs, n_pairs).select("doc_id", "pr")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("pr").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(pr, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "n_members", "pr", "keep")
    )


@register(
    "q_dedup_minhash_est",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, lang, {_D_TOKS} AS toks FROM documents),
    th AS MATERIALIZED (
      SELECT doc_id, lang, {_D_TOKH} AS tokh, len(toks) AS sz FROM t),
    sigs AS MATERIALIZED (
      SELECT doc_id, lang, sz, {_D_MINHASH_SIG} AS sig
      FROM th),
    bands AS (
      SELECT doc_id, lang, sz, sig,
             CAST(UNNEST(range({_N_BANDS})) AS INT) AS band
      FROM sigs),
    keyed AS (
      SELECT doc_id, lang, sz, band,
             array_to_string(sig[band * {_ROWS_PER_BAND} + 1 :
                                 band * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}],
                             '_') AS bucket
      FROM bands),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM keyed a JOIN keyed b
        ON a.lang = b.lang AND a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
       AND a.sz * 100 >= b.sz * 95 AND b.sz * 100 >= a.sz * 95)
    SELECT doc_id_a, doc_id_b,
           CAST(list_sum(list_transform(range(1, {_N_HASHES} + 1),
                i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
             AS BIGINT) AS n_agree,
           list_sum(list_transform(range(1, {_N_HASHES} + 1),
                i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
             ::DOUBLE / {_N_HASHES} AS est_jaccard,
           len(list_intersect(ta.tokh, tb.tokh))::DOUBLE
             / (ta.sz + tb.sz - len(list_intersect(ta.tokh, tb.tokh)))
             AS exact_jaccard,
           CAST(FLOOR(ABS(
               list_sum(list_transform(range(1, {_N_HASHES} + 1),
                    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
                 ::DOUBLE / {_N_HASHES}
               - len(list_intersect(ta.tokh, tb.tokh))::DOUBLE
                 / (ta.sz + tb.sz - len(list_intersect(ta.tokh, tb.tokh)))
             ) * 10000 + 0.5) AS BIGINT) AS err_bp
    FROM cand
    JOIN sigs sa ON sa.doc_id = cand.doc_id_a
    JOIN sigs sb ON sb.doc_id = cand.doc_id_b
    JOIN th ta ON ta.doc_id = cand.doc_id_a
    JOIN th tb ON tb.doc_id = cand.doc_id_b
    """,
)
def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR accuracy as a hash-checked artifact: for every
    banding candidate pair, the signature-agreement estimate
    Ĵ = |{i : sig_a[i] = sig_b[i]}| / 16 next to the exact token
    Jaccard, with the absolute error in basis points. Complements the
    r8 recall audits (q_dedup_lsh_recall pins WHICH pairs banding
    surfaces; this pins HOW WELL the sketch itself measures them) —
    the number that decides whether a signature-only dedup pass (no
    exact-verify join, the cheapest 100 TB configuration) is
    acceptable for a given τ.

    Exactness: agreement counts are integer folds over identical
    signatures; Ĵ, J and |Ĵ−J| are single IEEE expressions over those
    integers; the error is scaled to integer basis points.

    Scale shape: identical to q_dedup_minhash's candidate stage (the
    banding equi-join, never all-pairs) plus two signature joins and
    two token joins keyed on doc_id — linear in candidates; signatures
    are 16 int64s per doc, so a signature-only variant of this plan
    drops the token joins and ships 128 bytes per side."""
    # r15: six consumers of the tokenized corpus (band self-join ×2,
    # sig joins ×2, token joins ×2) — materialize the token-hash frame
    # and the signature frame once each (see q_dedup_minhash).
    toks = ckpt(
        _toks_df(spark, sf_dir)
        .withColumn("tokh", F.expr(_TOKH))
        .select("doc_id", "lang", "sz", "tokh")
    )
    sigs = ckpt(
        toks.select(
            "doc_id", "lang", "sz", F.expr(_MINHASH_SIG).alias("sig")
        )
    )
    cand = _band_candidates(spark, _band_keyed(sigs))
    sa = sigs.select(
        F.col("doc_id").alias("doc_id_a"), F.col("sig").alias("sig_a")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b")
    )
    ta = toks.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("tokh").alias("tokh_a"),
        F.col("sz").alias("sz_a"),
    )
    tb = toks.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("tokh").alias("tokh_b"),
        F.col("sz").alias("sz_b"),
    )
    n_agree = F.aggregate(
        F.zip_with(
            "sig_a",
            "sig_b",
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("bigint")
    inter = F.size(F.array_intersect("tokh_a", "tokh_b"))
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .join(ta, "doc_id_a")
        .join(tb, "doc_id_b")
        .withColumn("n_agree", n_agree)
        .withColumn("est_jaccard", F.col("n_agree") / F.lit(float(_N_HASHES)))
        .withColumn(
            "exact_jaccard",
            inter / (F.col("sz_a") + F.col("sz_b") - inter),
        )
        .withColumn(
            "err_bp",
            F.floor(
                F.abs(F.col("est_jaccard") - F.col("exact_jaccard")) * 10000
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .select(
            "doc_id_a", "doc_id_b", "n_agree", "est_jaccard",
            "exact_jaccard", "err_bp",
        )
    )


def _triangles_oracle() -> str:
    """DuckDB oracle for q_graph_triangles: the SHARED banded-LSH pair
    CTE (the same graph PageRank and the LSH cluster/survivor chain
    consume), then id-ordered 3-way triangle enumeration — each
    triangle x<y<z appears exactly once."""
    pairs = _LSH_PAIRS_CTE.format(
        sig=_D_MINHASH_SIG, n_bands=_N_BANDS, rows=_ROWS_PER_BAND
    )
    return (
        "WITH "
        + pairs
        + """,
    tri AS (
      SELECT p1.doc_id_a AS x, p1.doc_id_b AS y, p2.doc_id_b AS z
      FROM pairs p1
      JOIN pairs p2 ON p2.doc_id_a = p1.doc_id_b
      JOIN pairs p3 ON p3.doc_id_a = p1.doc_id_a
                   AND p3.doc_id_b = p2.doc_id_b),
    nodes AS (
      SELECT x AS doc_id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
    SELECT doc_id, COUNT(*) AS n_triangles FROM nodes GROUP BY doc_id
    """
    )


@register("q_graph_triangles", oracle=_triangles_oracle())
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the MinHash-LSH near-duplicate
    graph — the same banded pair set the CC clustering
    (q_dedup_cluster_lsh) and PageRank stages consume, and the standard
    cohesion signal for duplicate neighborhoods: a node whose pairs
    close into triangles sits in a genuine clone cluster; a
    high-degree node with NO triangles is a hub stitching unrelated
    docs together (the failure mode that merges distinct clusters
    under transitive closure), so triangle counts are the natural
    audit for the CC stage.

    End-to-end 100 TB shape: the edge list comes from the BANDED
    candidate pipeline (equi-join on (lang, band, bucket) — never
    all-pairs; the r9 10× stress leg over the exact-pair variant
    measured α 1.46 precisely because the exact ground-truth join is
    quadratic within blocks, which is why the production graph op
    consumes the LSH pairs). Counting then uses DEGREE-ORDERED
    orientation: each undirected edge points from its lower-(degree,
    id) endpoint to the higher, making the graph acyclic with
    out-degrees bounded by O(√m); every triangle has exactly one
    source node with both out-edges (rank u < v < w ⇒ u→v, u→w, v→w),
    so wedges(u→v, v→w) ⋈ closing-edge(u→w) enumerates each triangle
    once and total wedge work is O(m^{3/2}) regardless of skew — a
    plain id-ordered join (the oracle's shape, fine single-node) blows
    up on the first billion-degree hub because every hub pair becomes
    a wedge. All three legs are equi-joins on vertex keys; the pair
    table is localCheckpointed so the 3-way self-join re-reads a
    materialized table instead of re-running the LSH pipeline per leg.
    Output: (doc_id, n_triangles) for every triangle-participating doc
    — exact integers, no float surface."""
    pairs = ckpt(
        q_dedup_minhash(spark, sf_dir).select(
            F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b")
        ),
        eager=True,
    )
    deg = (
        pairs.select(F.col("a").alias("n"))
        .unionByName(pairs.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    ranked = pairs.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ckpt(
        ranked.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("d"),
        ),
        eager=True,
    )
    e1 = oriented.select(F.col("s").alias("u"), F.col("d").alias("v"))
    e2 = oriented.select(F.col("s").alias("v"), F.col("d").alias("w"))
    e3 = oriented.select(F.col("s").alias("u"), F.col("d").alias("w"))
    tri = e1.join(e2, "v").join(e3, ["u", "w"])
    nodes = tri.select(F.explode(F.array("u", "v", "w")).alias("doc_id"))
    return nodes.groupBy("doc_id").agg(F.count("*").alias("n_triangles"))


_CONT_TAU = 0.90  # directed containment threshold |A∩B| / |A|


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH t AS MATERIALIZED (
      SELECT doc_id, lang, {_D_BIGRAMS} AS toks FROM documents),
    s AS (SELECT doc_id, lang, toks, len(toks) AS sz FROM t WHERE len(toks) > 0)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           len(list_intersect(a.toks, b.toks))::DOUBLE / a.sz AS containment
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id != b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE / a.sz >= {_CONT_TAU}
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed CONTAINMENT dedup over bigram shingles: ordered pairs
    (A, B) with |A∩B| / |A| ≥ 0.9 — the asymmetric relation symmetric
    Jaccard cannot see (a short document quoted inside a much longer
    one has high containment but low Jaccard, because the union is
    dominated by B; the size-ratio band that makes the Jaccard ops
    cheap is exactly what containment must NOT use). This is the
    subsumed-document signal: drop A, keep B.

    Candidate generation is the PPJoin-family PREFIX FILTER, which is
    LOSSLESS (not probabilistic like the LSH ops): order every doc's
    shingles by ascending global document frequency (rarest first,
    deterministic (df, shingle-hash) tie-break) and take A's first
    p = sz_A − ⌈τ·sz_A⌉ + 1 shingles; any B with |A∩B| ≥ τ·sz_A must
    share at least one prefix shingle — missing all p of them caps the
    intersection at sz_A − p < ⌈τ·sz_A⌉. Candidates are therefore an
    equi-join of the tiny prefix postings against the full inverted
    index on (lang, shingle-hash); rarest-first ordering minimizes the
    posting products. The DuckDB oracle is the NAIVE all-pairs
    definition, so the hash gate proves the filter drops nothing —
    the same exactness argument the blocked-Jaccard ops pin, but for
    a filter whose soundness is combinatorial rather than algebraic.

    The 100 TB shape: one DF aggregate over the exploded shingles
    (map-side combined), one window for per-doc prefix ranks, one
    posting-list equi-join (prefix side ~10% of shingle volume at
    τ=0.9), exact verify only on surviving pairs via int64-hashed
    shingle intersect (collision-freeness cross-checked by the
    string-intersecting oracle, as with q_dedup_near). No all-pairs
    stage anywhere; a hot shingle inflates only its own posting
    product, and capping ultra-common shingles out of the index is
    sound for the prefix side (they are never in a rarest-first
    prefix unless the doc is almost ALL boilerplate)."""
    from pyspark.sql.window import Window

    t = ckpt(
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)  # see _toks_df
        .select("doc_id", "lang", F.expr(_BIGRAMS).alias("bg"))
        .withColumn("toki", F.expr("transform(bg, t -> xxhash64(t))"))
        .withColumn("sz", F.size("toki"))
        .where(F.col("sz") > 0)
        .drop("bg"),
        # referenced four times below (postings, prefix sizes, both
        # verify sides) — materialize once
        eager=True,
    )
    # the posting index is CORPUS-SIZED (Σ|doc| rows) — never
    # materialize it: each of its three uses below is a narrow explode
    # over the checkpointed doc table, so recompute is one codegen pass
    # per use, while checkpointing it was a measured 100× OOM (heap-
    # bound block storage of 150M rows at the 500k-doc stress step —
    # the same failure mode the r6 PageRank fix closed).
    posting = t.select("doc_id", "lang", F.explode("toki").alias("tok"))
    df_tab = posting.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # p = sz − ceil(τ·sz) + 1, integer-exact: ceil(9·sz/10) = (9·sz+9)÷10
    p = (
        F.col("sz")
        - F.floor((F.lit(9) * F.col("sz") + F.lit(9)) / 10).cast("int")
        + F.lit(1)
    )
    prefix = ckpt(
        posting.join(df_tab, "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "tok")
            ),
        )
        .join(t.select("doc_id", "sz"), "doc_id")
        .where(F.col("rn") <= p)
        .select(
            F.col("doc_id").alias("doc_id_a"),
            F.col("lang").alias("lang_a"),
            F.col("tok").alias("tok_a"),
            F.col("df"),
        ),
        # TINY (≈(1−τ)·shingle volume) and consumed twice: once for the
        # volume estimate, once as the join probe side
        eager=True,
    )
    # Volume-derived parallelism (the _pagerank_over_pairs discipline,
    # extended to a two-stage pipeline): the candidate join emits
    # Σ_tok prefix_count(tok)·df(tok) rows before dedup — ~727M at the
    # 100× stress step, because this clone-dense corpus gives every
    # "rare" shingle df ≈ clone-cluster size — and each VERIFY row then
    # carries a shingle array. Fixed 32-partition shuffles put 100s of
    # MB of hash/sort state in every task and OOM the default 8g JVM
    # (measured, three ways: checkpointed-index read-ahead, shuffled-
    # hash build, verify sort buffers). Both shuffle widths below are
    # therefore derived from the ESTIMATED volume scalar — one cheap
    # aggregate over the checkpointed prefix — keeping per-task state
    # flat at any corpus size; on a real cluster this is just fan-out.
    est_cand = (
        prefix.agg(F.sum("df").alias("v")).first()["v"] or 0
    )  # scalar: Σ pc·df ≥ distinct candidates
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cand_parts = max(shuffle_parts, min(2048, int(est_cand) // 1_000_000 + 1))
    verify_parts = max(shuffle_parts, min(4096, int(est_cand) // 250_000 + 1))
    full = posting.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("lang").alias("lang_b"),
        F.col("tok").alias("tok_b"),
    )
    cand = (
        # both sides corpus-scale → SPILL-SAFE sort-merge, never a
        # per-partition hash build of the full index
        prefix.drop("df").hint("merge").join(
            full,
            (F.col("tok_a") == F.col("tok_b"))
            & (F.col("lang_a") == F.col("lang_b")),
        )
        .where(F.col("doc_id_a") != F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .repartition(cand_parts, "doc_id_a", "doc_id_b")
        .distinct()
    )
    ta = t.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("toki").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    tb = t.select(
        F.col("doc_id").alias("doc_id_b"), F.col("toki").alias("toks_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        cand.repartition(verify_parts, "doc_id_a")
        .hint("merge")
        .join(ta.repartition(verify_parts, "doc_id_a"), "doc_id_a")
        .repartition(verify_parts, "doc_id_b")
        .hint("merge")
        .join(tb.repartition(verify_parts, "doc_id_b"), "doc_id_b")
        .withColumn("containment", inter / F.col("sz_a"))
        .where(F.col("containment") >= _CONT_TAU)
        .select("doc_id_a", "doc_id_b", "containment")
    )


#: containment pair chain for DuckDB, ending in pairs(doc_id_a,
#: doc_id_b) — the UNDIRECTED subsumption graph: an edge when EITHER
#: direction clears τ (q_dedup_containment's relation, symmetrized).
_CONT_PAIRS_CTE = f"""t AS MATERIALIZED (
      SELECT doc_id, lang, {_D_BIGRAMS} AS toks FROM documents),
    s AS MATERIALIZED (
      SELECT doc_id, lang, toks, len(toks) AS sz
      FROM t WHERE len(toks) > 0),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE / a.sz
              >= {_CONT_TAU}
         OR len(list_intersect(a.toks, b.toks))::DOUBLE / b.sz
              >= {_CONT_TAU})"""


@register(
    "q_dedup_cluster_containment",
    oracle=_cc_oracle_prefix(pairs_cte=_CONT_PAIRS_CTE)
    + """
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
    FROM comp
    """,
)
def q_dedup_cluster_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the SUBSUMPTION graph — the cluster
    stage of the containment chain, mirroring near→cluster and
    lsh→cluster: documents linked when either direction of bigram
    containment clears τ=0.9 collapse into one keep-the-superset
    group. Chains of partial quoting (A ⊂ B ⊂ C) merge transitively
    even though A and C alone might not qualify — exactly the behavior
    a subsumption dedup wants, and exactly what per-pair filtering
    can't give. Same _cluster_over_pairs body (local contraction +
    verifying min-label loop) on q_dedup_containment's prefix-filtered
    pairs, undirected by least/greatest dedup; the oracle computes the
    same component-min fixpoint over the naive all-pairs
    either-direction graph."""
    directed = q_dedup_containment(spark, sf_dir)
    und = directed.select(
        F.least("doc_id_a", "doc_id_b").alias("doc_id_a"),
        F.greatest("doc_id_a", "doc_id_b").alias("doc_id_b"),
    ).distinct()
    return _cluster_over_pairs(spark, und)
