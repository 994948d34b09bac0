"""§2.10 Deduplication operators for training-data pipelines.

Families over ``documents`` and ``embeddings``, all JVM-side DataFrame
expressions (the one Python pass is the connected-components union-find,
``_union_find``):

- exact content hash (``sha2``);
- exact blocked Jaccard over token sets and bigram shingles;
- duplicated spans, every window or winnowed;
- SimHash, MinHash-LSH (plain, capped, incremental, bucket stats,
  estimator accuracy) and sign-LSH over embeddings (fixed, corpus-scaled,
  capped), with recall audits;
- connected components, survivor choice, PageRank and triangle counts
  over a pair graph; directed containment.

Every pair producer runs one plan, sketch → candidates → exact verify:

- ``_candidates`` — distinct id pairs of two keyed sides that agree on
  the blocking keys, optionally inside a size-ratio band and with
  ``id_a < id_b``; only ids, keys and sizes cross its shuffles;
- ``_verify`` — joins the side frames back onto the candidate ids,
  scores every pair and keeps it by a threshold;
- ``_exact_tau_pairs`` — the blocked exact-Jaccard join, the ground
  truth the LSH audits measure against.

Pair contract: a pair producer returns ``(doc_id_a, doc_id_b, …)`` with
``doc_id_a < doc_id_b`` (embedding producers ``vec_id_a < vec_id_b``;
vec ids double as doc ids). Connected components, survivor choice,
PageRank and triangle counts consume it.

Connected components (``_cluster_over_pairs``) is one round when the
pairs fit one partition: a single ``mapInPandas`` union-find over them.
Larger graphs contract each partition with the same union-find and
join the stars up with the min-label probe loop.

Every hash is md5-derived (Spark ``conv(…, 16, 10)`` ↔ DuckDB
``CAST('0x…' AS BIGINT)``), so sketches, buckets and candidates are the
same in both engines and each LSH output is value-checked against its
DuckDB oracle. Oracle SQL shares fragments among oracles only.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from copy_databasetables_spark.io import load_table
from copy_databasetables_spark.operators import _helpers, register
from copy_databasetables_spark.operators._helpers import (
    _D_H,
    _H,
    _cosine_pre,
    ckpt,
    ckpt_observed,
    rz,
    span_hashes,
    token_windows,
)

# --- shared fragments ----------------------------------------------------

#: Spark SQL: distinct token set of a document.
_TOKS = "array_distinct(split(text, ' '))"
#: DuckDB: the same token set.
_D_TOKS = "list_distinct(string_split(text, ' '))"

#: Spark/DuckDB: hash each distinct token once (md5 → 60-bit int); the
#: per-seed hash families below derive from this value arithmetically, so
#: the md5 cost is O(tokens), not O(tokens × hashes).
_TOKH = f"transform(toks, t -> {_H.format(x='t')})"
_D_TOKH = f"list_transform(toks, t -> {_D_H.format(x='t')})"

_JACCARD_TAU = 0.95
#: size-ratio band (percent) of the Jaccard producers: J(A,B) ≥ τ implies
#: τ ≤ |A|/|B| ≤ 1/τ, so the band drops no pair of Jaccard ≥ 0.95.
_JACCARD_BAND = 95

#: q_dedup_survivor broadcasts its cluster table only below this row
#: count (~3 compact columns/row → well under Spark's 8 GB broadcast
#: cap); above it the corpus join falls back to a shuffle join.
_SURVIVOR_BROADCAST_MAX_ROWS = 20_000_000


def _toks_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, toks, sz): each document's distinct-token set and
    its size. ``documents`` scans as one partition and AQE does not split
    a scan whose bytes look small, while the pair joins below turn it
    into millions of rows — so the frame is spread over
    ``defaultParallelism`` partitions first."""
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


def _tok_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, sz, tokh), checkpointed: each distinct token hashed
    once. The MinHash producers read it two to six times (banding, both
    verify sides, the ground-truth join), so tokenize + md5 runs once
    per call."""
    return ckpt(
        _toks_df(spark, sf_dir)
        .withColumn("tokh", F.expr(_TOKH))
        .select("doc_id", "lang", "sz", "tokh")
    )


def _side(df: DataFrame, s: str) -> DataFrame:
    """``df`` with every column ``c`` renamed ``c_{s}``: one half of a
    pair row."""
    return df.select(*[F.col(c).alias(f"{c}_{s}") for c in df.columns])


def _candidates(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    *,
    band: int | None,
    ordered: bool,
    spread: bool,
) -> DataFrame:
    """The candidate step: distinct ``(id_a, id_b)`` pairs of an ``a`` row
    and a ``b`` row that agree on every column in ``keys``.

    Each side leads with its id column ``id``. Only ids, keys and (with
    ``band``) the size column ``sz`` enter the join, so the distinct
    shuffles two longs per pair, never a payload. ``band`` adds the
    size-ratio band 100·|A| ≥ band·|B| ∧ 100·|B| ≥ band·|A|, which drops
    no pair of Jaccard ≥ band/100. ``ordered`` adds ``id_a < id_b``,
    each unordered pair of a self-join once. ``spread`` repartitions the
    result over ``defaultParallelism``: AQE coalesces the few-MB id
    shuffle to about one partition, but every candidate still owes an
    exact verify.

    Cost: one shuffle on ``keys``, one on the id pair, and with
    ``spread`` one round-robin shuffle."""
    sz = ["sz"] if band else []
    left = a.select(F.col(a.columns[0]).alias(f"{a.columns[0]}_a"), *keys, *sz)
    right = b.select(
        F.col(b.columns[0]).alias(f"{b.columns[0]}_b"),
        *[F.col(c).alias(f"{c}_b") for c in keys + sz],
    )
    ia, ib = left.columns[0], right.columns[0]
    cond = [left[k] == right[f"{k}_b"] for k in keys]
    if ordered:
        cond.append(left[ia] < right[ib])
    if band:
        cond += [left.sz * 100 >= right.sz_b * band, right.sz_b * 100 >= left.sz * band]
    cand = left.join(right, functools.reduce(operator.and_, cond)).select(ia, ib).distinct()
    if spread:
        cand = cand.repartition(a.sparkSession.sparkContext.defaultParallelism)
    return cand


def _verify(
    cand: DataFrame | None,
    sides: list[DataFrame],
    score: dict[str, Column],
    keep: Column | None,
    out: list,
) -> DataFrame:
    """The verify step: score candidate pairs exactly, keep those that
    pass; returns ``(id_a, id_b, *out)``.

    Each frame in ``sides`` leads with the id column ``id`` that names
    the pair (``id_a``, ``id_b``) and carries the payload the score
    reads; it joins onto ``cand`` twice, its columns suffixed ``_a`` and
    ``_b``. ``cand`` None pairs every two rows of ``sides[0]`` with
    ``id_a < id_b`` (an exact all-pairs reference). ``score`` columns
    are added in order, so a later one may read an earlier one;
    ``keep`` (None keeps every pair) filters on them.

    No broadcast hint: a side is the corpus, so both joins shuffle on
    the id unless AQE sees small actual sizes. Cost: two joins per side
    frame over the candidates."""
    sid = sides[0].columns[0]
    ia, ib = f"{sid}_a", f"{sid}_b"
    if cand is None:
        a, b = _side(sides[0], "a"), _side(sides[0], "b")
        pairs = a.join(b, a[ia] < b[ib])
    else:
        pairs = cand
        for s in sides:
            pairs = pairs.join(_side(s, "a"), ia).join(_side(s, "b"), ib)
    for name, col in score.items():
        pairs = pairs.withColumn(name, col)
    if keep is not None:
        pairs = pairs.where(keep)
    return pairs.select(ia, ib, *out)


def _jaccard(h: str) -> dict[str, Column]:
    """Exact Jaccard of the distinct-element arrays ``h_a`` / ``h_b``
    with sizes ``sz_a`` / ``sz_b``: |A∩B| / (|A|+|B|−|A∩B|), one
    intersect per pair and no union array. Over int hash arrays it is an
    int/int division, bit-identical across engines."""
    return {
        "inter": F.size(F.array_intersect(f"{h}_a", f"{h}_b")),
        "jaccard": F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
    }


def _jaccard_pairs(cand: DataFrame, toks: DataFrame) -> DataFrame:
    """Candidates verified at ``_JACCARD_TAU`` over ``_tok_hashes`` rows:
    (doc_id_a, doc_id_b, jaccard)."""
    return _verify(
        cand,
        [toks.select("doc_id", "tokh", "sz")],
        _jaccard("tokh"),
        F.col("jaccard") >= _JACCARD_TAU,
        ["jaccard"],
    )


def _exact_tau_pairs(t: DataFrame, h: str, tau: float, band: int) -> DataFrame:
    """The blocked exact-τ pair join over ``t``'s (doc_id, lang, sz, h)
    rows: every same-language pair inside the size band with Jaccard of
    the ``h`` arrays ≥ ``tau`` → (doc_id_a, doc_id_b, jaccard). The band
    must be sound for ``tau`` (band ≤ 100·τ), so the result equals the
    unblocked all-pairs query. It is the ground-truth definition: the
    LSH recall audit runs it over the same md5 hashes as the verify
    step, so verified ⊆ true holds exactly.

    Cost: one shuffle on lang; quadratic within a language block."""
    a = t.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("lang"),
        F.col(h).alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    b = t.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("lang").alias("lang_b"),
        F.col(h).alias("toks_b"),
        F.col("sz").alias("sz_b"),
    )
    pairs = a.join(
        b,
        (a.lang == b.lang_b)
        & (a.doc_id_a < b.doc_id_b)
        & (a.sz_a * 100 >= b.sz_b * band)
        & (b.sz_b * 100 >= a.sz_a * band),
    )
    for name, col in _jaccard("toks").items():
        pairs = pairs.withColumn(name, col)
    return pairs.where(F.col("jaccard") >= tau).select("doc_id_a", "doc_id_b", "jaccard")


def _banded(
    df: DataFrame, carry: list[str], arr: str, n_bands: int, stride: int, width, sep: str
) -> DataFrame:
    """One row per (row, band) of ``df``: the ``carry`` columns, ``band``
    and ``bucket`` — the band's slice of array ``arr`` (``width``
    elements from band·stride; an int or a column name) joined by
    ``sep``. The bucket is the equi-join key that replaces an all-pairs
    compare."""
    extra = [width] if isinstance(width, str) else []
    return df.select(
        *carry, F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"), arr, *extra
    ).select(
        *carry,
        "band",
        F.array_join(F.slice(arr, F.col("band") * stride + 1, width), sep).alias("bucket"),
    )


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


#: DuckDB: q_dedup_near's exact lang-blocked pair join, ending in
#: pairs(doc_id_a, doc_id_b, jaccard).
_D_NEAR_PAIRS = f"""t AS MATERIALIZED (SELECT doc_id, lang, {_D_TOKS} AS toks,
             len({_D_TOKS}) AS sz
      FROM documents),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             len(list_intersect(a.toks, b.toks))::DOUBLE
               / (a.sz + b.sz - len(list_intersect(a.toks, b.toks))) AS jaccard
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
              / (a.sz + b.sz - len(list_intersect(a.toks, b.toks)))
            >= {_JACCARD_TAU})"""

#: DuckDB: the symmetric edge list of a pairs CTE.
_D_EDGES = """edges AS MATERIALIZED (SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
              UNION ALL
              SELECT doc_id_b, doc_id_a FROM pairs)"""

#: unrolled label-propagation rounds of the DuckDB connected-components
#: reference; the testdata's pair graphs reach the fixpoint inside them.
_CC_ORACLE_STAGES = 16


def _cc_oracle_prefix(pairs_cte: str) -> str:
    """DuckDB CTE chain: ``pairs_cte`` (ending in a CTE
    ``pairs(doc_id_a, doc_id_b, …)``), ``edges``, l0..l16 and
    ``comp(doc_id, cluster_id)``, the component-minimum label of every
    vertex of the pair graph. Callers append their final SELECT.

    Contract: each round keeps one label per vertex, and a label only
    decreases: label' = min(own label, label of the label, the
    in-neighbors' labels). The stages are unrolled, not a recursive
    CTE: a recursive reach closure materializes Σ|component|² rows. If
    a graph needed more rounds, its labels would not be the component
    minima and the oracle comparison would fail — non-convergence
    cannot pass silently. The Spark side reaches the same fixpoint by
    per-partition contraction, then ``_min_label_propagate``."""
    parts = [
        pairs_cte,
        _D_EDGES,
        """l0 AS MATERIALIZED (SELECT d AS doc_id, LEAST(d, MIN(s)) AS label
           FROM edges GROUP BY d)""",
    ]
    for k in range(_CC_ORACLE_STAGES):
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
        f"comp AS (SELECT doc_id, label AS cluster_id FROM l{_CC_ORACLE_STAGES})"
    )
    return "WITH " + ",\n    ".join(parts)


#: DuckDB: cluster sizes over ``comp``.
_D_SIZED = """sized AS (
      SELECT doc_id, cluster_id,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM comp)"""


def _d_clusters(id_name: str) -> str:
    """DuckDB tail for a ``_cc_oracle_prefix`` chain: (``id_name``,
    cluster_id, n_members)."""
    return f""",
    {_D_SIZED}
    SELECT doc_id AS {id_name}, cluster_id, n_members FROM sized
    """


#: DuckDB tail for a ``_cc_oracle_prefix`` chain: the longest document of
#: each cluster is kept, min doc_id breaking ties.
_D_SURVIVORS = f""",
    {_D_SIZED}
    SELECT s.doc_id, s.cluster_id, s.n_members,
           ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                              ORDER BY d.n_chars DESC, s.doc_id ASC) = 1
             AS keep
    FROM sized s JOIN documents d ON d.doc_id = s.doc_id
    """


@register(
    "q_dedup_near",
    oracle=f"WITH {_D_NEAR_PAIRS} SELECT doc_id_a, doc_id_b, jaccard FROM pairs",
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs: token-set Jaccard ≥ ``_JACCARD_TAU`` within
    a language, by ``_exact_tau_pairs`` — the exact reference pair set.

    The intersect runs over ``xxhash64(token)`` int64 arrays, hashed
    once per document, while intersects run once per pair. This equals
    string-set Jaccard unless two tokens of one doc pair collide in
    xxhash64 (p ≈ n²/2⁶⁴ per pair); the DuckDB oracle intersects the
    raw strings, so the oracle comparison checks that no collision
    occurs on the corpus. |A| and |B| are the string-set sizes.

    Cost: one checkpoint of the hashed token frame (both join sides read
    it), then one shuffle on lang and the per-language quadratic join."""
    t = ckpt(
        _toks_df(spark, sf_dir)
        .withColumn("toki", F.expr("transform(toks, t -> xxhash64(t))"))
        .select("doc_id", "lang", "sz", "toki")
    )
    return _exact_tau_pairs(t, "toki", _JACCARD_TAU, _JACCARD_BAND)


_NGRAM_TAU = 0.60

#: Spark SQL: distinct bigram shingles.
_BIGRAMS = f"array_distinct({token_windows(2)})"
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
    """Bigram-shingle Jaccard ≥ ``_NGRAM_TAU`` pairs within a language:
    stricter than token-set Jaccard, because shingles encode local word
    order. Shingles hash to 60-bit ints (portable md5, once per
    shingle), so the pair intersect compares ints.

    ``_exact_tau_pairs`` with the band sound for τ = 0.60 (60 percent):
    the band prunes the per-language quadratic join without changing
    the result. Cost: one checkpoint of the shingle frame, one shuffle
    on lang."""
    grams_hashed = (
        f"array_distinct(transform({_BIGRAMS}, g -> {_H.format(x='g')}))"
    )
    d = ckpt(
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)  # see _toks_df
        .select("doc_id", "lang", F.expr(grams_hashed).alias("grams"))
        .withColumn("sz", F.size("grams"))
    )
    return _exact_tau_pairs(d, "grams", _NGRAM_TAU, 60)


def _dup_fraction(
    spark: SparkSession, sf_dir: str, hashes: str, n: str, n_dup: str
) -> DataFrame:
    """Per document (doc_id, ``n``, ``n_dup``, dup_frac): how many span
    hashes the SQL array ``hashes`` yields for it, how many of those
    also occur in another document, and their ratio at 4dp (0.0 when it
    has none).

    One linear chain evaluates ``hashes`` once per document: explode →
    partial-aggregated groupBy (h, doc_id) → a count window over h (one
    row per (h, doc), so the row count is the number of distinct docs)
    → one per-doc aggregate. Documents without spans return through a
    doc_id-only left join. The duplicated-hash side is corpus-dependent,
    so nothing is broadcast by hint. Cost: O(total spans) rows, no
    self-join."""
    counts = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)  # see _toks_df
        .select("doc_id", F.explode(F.expr(hashes)).alias("h"))
        .groupBy("h", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nz = f"{n}_nz"
    perdoc = (
        counts.withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias(nz),
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
            F.coalesce(F.col(nz), F.lit(0)).cast("bigint").alias(n),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias(n_dup),
            F.when(
                F.coalesce(F.col(nz), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("n_dup"), F.lit(0)).cast("double") / F.col(nz),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


#: DuckDB: t(doc_id, tok, n), each document's tokens, and spans(doc_id,
#: i, h), the hash of the _SPAN_K-token window starting at token i.
_D_SPANS = f"""t AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS tok,
             len(string_split(text, ' ')) AS n
      FROM documents),
    spans AS MATERIALIZED (
      SELECT doc_id, CAST(u.i AS BIGINT) AS i,
             {_D_H.format(x=f"array_to_string(list_slice(tok, i, i + {_helpers._SPAN_K} - 1), ' ')")} AS h
      FROM t, UNNEST(range(1, GREATEST(n - {_helpers._SPAN_K} + 2, 1))) AS u(i))"""


@register(
    "q_dedup_substring",
    oracle=f"""WITH {_D_SPANS},
    dup AS (SELECT h FROM spans GROUP BY h
            HAVING COUNT(DISTINCT doc_id) > 1),
    perdoc AS (SELECT s.doc_id, COUNT(*) AS n_dup
               FROM spans s JOIN dup USING (h) GROUP BY s.doc_id)
    SELECT t.doc_id,
           GREATEST(t.n - {_helpers._SPAN_K} + 1, 0)::BIGINT AS n_spans,
           COALESCE(p.n_dup, 0)::BIGINT AS n_dup_spans,
           CASE WHEN t.n >= {_helpers._SPAN_K}
                THEN ROUND(COALESCE(p.n_dup, 0)::DOUBLE
                           / (t.n - {_helpers._SPAN_K} + 1), 4)
                ELSE 0.0 END AS dup_frac
    FROM t LEFT JOIN perdoc p ON p.doc_id = t.doc_id
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span detection, the exact-substring dedup signal (Lee
    et al. 2022): near-dup docs share whole documents, while template
    spam and boilerplate share spans inside otherwise distinct docs,
    which doc-level Jaccard never sees. Every ``_SPAN_K``-token window
    is hashed (portable md5, positional), and a span found in ≥ 2
    distinct docs marks every occurrence; ``_dup_fraction`` reports per
    doc the span count, the duplicated spans and their fraction.

    A fixed window approximates the suffix-array algorithm: any run
    duplicated over ≥ K tokens produces duplicated windows."""
    return _dup_fraction(spark, sf_dir, span_hashes(), "n_spans", "n_dup_spans")


#: winnowing window (in span-hashes): per window of _MINIMIZER_W
#: consecutive K-token span hashes, keep only the rightmost-minimal
#: hash — expected density 2/(w+1) of all spans, with the Schleimer
#: et al. 2003 guarantee that any duplicated run of
#: ≥ _SPAN_K + _MINIMIZER_W − 1 tokens still shares ≥1 selected span.
_MINIMIZER_W = 4


@register(
    "q_dedup_substring_minimizer",
    oracle=f"""WITH {_D_SPANS},
    wins AS MATERIALIZED (
      SELECT s.doc_id, CAST(u.wi AS BIGINT) AS wi, s.i, s.h
      FROM t, UNNEST(range(1,
             CASE WHEN n - {_helpers._SPAN_K} + 1 >= 1
                  THEN GREATEST(n - {_helpers._SPAN_K} + 1 - {_MINIMIZER_W} + 2, 2)
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
    """q_dedup_substring over winnowed spans (Schleimer et al. 2003, the
    MOSS fingerprinting scheme): each document keeps only the
    rightmost-minimal hash of every ``_MINIMIZER_W``-wide window of
    consecutive span hashes — an expected 2/(w+1) of its spans. Any run
    duplicated over ≥ K+w−1 tokens still shares a selected span in every
    copy, because the rightmost-min rule depends only on hash values and
    their relative order. Same per-doc report as the exact op, over the
    selected spans, at ~w/2× less shuffle.

    Selection runs in-row: one higher-order aggregate per window over the
    doc's own span-hash array, with no explode, no per-window shuffle and
    no window function; only the selected hashes explode into
    ``_dup_fraction``. The oracle mirrors the rule as a per-(doc, window)
    ``ORDER BY h ASC, i DESC`` pick."""
    max_b = "9223372036854775807L"
    # Let-binding via single-element transform(array(...), sp -> ...):
    # without it, projection collapse inlines the md5 spans expression
    # into every element_at reference inside the selection lambdas and
    # the per-doc cost goes quadratic in span count. As a lambda
    # variable, sp is evaluated once per row and every element_at(sp, p)
    # is an O(1) lookup; the inner binding does the same for the
    # selected-position list.
    sel_pos = (
        "case when size(sp) >= 1 then array_distinct(transform("
        f"sequence(1, greatest(size(sp) - {_MINIMIZER_W} + 1, 1)), wi -> "
        f"aggregate(sequence(wi, least(wi + {_MINIMIZER_W} - 1, size(sp))), "
        f"named_struct('p', 0, 'v', {max_b}), "
        "(acc, p) -> case when element_at(sp, p) <= acc.v "
        "then named_struct('p', p, 'v', element_at(sp, p)) else acc end"
        ").p)) else array() end"
    )
    # The selected hashes are exploded directly, not via a named column:
    # InferFiltersFromGenerate fires only on attribute-child explodes,
    # and the size() > 0 filter it infers would collapse into a second
    # full evaluation of the winnowing expression below the exchange.
    sel_arr = (
        f"element_at(transform(array({span_hashes()}), sp -> "
        f"element_at(transform(array({sel_pos}), ps -> "
        "transform(ps, p -> element_at(sp, p))"
        "), 1)), 1)"
    )
    return _dup_fraction(spark, sf_dir, sel_arr, "n_sel", "n_dup_sel")


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
    """SimHash near-dup pairs: a 16-bit sign-aggregate fingerprint per
    doc (portable md5 token hashes), Hamming distance ≤ 3 within a
    language.

    Blocking is a pigeonhole cover: the 16 bits split into 4 blocks of
    4, and Hamming ≤ 3 leaves at least one block bit-identical. So the
    candidates are an equi-join on (lang, block, value) over 4 rows per
    doc, and their recall is exactly 100% — blocked output ≡ all pairs.
    Cost: one checkpoint of the fingerprints (four readers), one
    shuffle on the block key, a verify over bucket-mates only."""
    fp = ckpt(
        _toks_df(spark, sf_dir)
        .withColumn("tokh", F.expr(_TOKH))
        .select("doc_id", "lang", F.expr(_SIMHASH).alias("simhash"))
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
    cand = _candidates(
        blocks, blocks, ["lang", "blk", "bval"], band=None, ordered=True, spread=True
    )
    return _verify(
        cand,
        [fp.select("doc_id", "simhash")],
        {"hamming": F.bit_count(F.expr("simhash_a ^ simhash_b"))},
        F.col("hamming") <= 3,
        ["hamming"],
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

#: MinHash-LSH blocking keys: a candidate pair shares a band bucket
#: within one language.
_LSH_KEYS = ["lang", "band", "bucket"]


def _sigs(toks: DataFrame) -> DataFrame:
    """(doc_id, lang, sz, sig): the MinHash signature of each row of a
    token-hash frame."""
    return toks.select("doc_id", "lang", "sz", F.expr(_MINHASH_SIG).alias("sig"))


def _band_keyed(sigs: DataFrame) -> DataFrame:
    """(doc_id, lang, sz, band, bucket): a signature split into its
    ``_N_BANDS`` LSH bands of ``_ROWS_PER_BAND`` hashes."""
    return _banded(
        sigs, ["doc_id", "lang", "sz"], "sig", _N_BANDS, _ROWS_PER_BAND, _ROWS_PER_BAND, "_"
    )


def _lsh_candidates(keyed: DataFrame) -> DataFrame:
    """MinHash-LSH candidates of a ``_band_keyed`` frame: distinct
    (doc_id_a < doc_id_b) pairs sharing a bucket, inside the Jaccard
    size band, spread for the verify."""
    return _candidates(
        keyed, keyed, _LSH_KEYS, band=_JACCARD_BAND, ordered=True, spread=True
    )


#: DuckDB: the MinHash-LSH chain over documents — t(doc_id, lang, toks),
#: th(+tokh), sigs(doc_id, lang, sz, sig), keyed(doc_id, lang, sz, band,
#: bucket).
_D_LSH_KEYED = f"""t AS MATERIALIZED (SELECT doc_id, lang, {_D_TOKS} AS toks FROM documents),
    th AS MATERIALIZED (SELECT doc_id, lang, toks, {_D_TOKH} AS tokh FROM t),
    sigs AS MATERIALIZED (
      SELECT doc_id, lang, len(toks) AS sz, {_D_MINHASH_SIG} AS sig FROM th),
    keyed AS MATERIALIZED (
      SELECT doc_id, lang, sz, band,
             array_to_string(sig[band * {_ROWS_PER_BAND} + 1 :
                                 band * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}],
                             '_') AS bucket
      FROM (SELECT *, CAST(UNNEST(range({_N_BANDS})) AS INT) AS band
            FROM sigs))"""

#: DuckDB: exact Jaccard of the token-hash rows ``ta`` / ``tb``.
_D_JACCARD = """len(list_intersect(ta.tokh, tb.tokh))::DOUBLE
             / (len(ta.tokh) + len(tb.tokh)
                - len(list_intersect(ta.tokh, tb.tokh)))"""


def _d_lsh_cand(src: str) -> str:
    """DuckDB: ``cand``, the banded candidates of keyed CTE ``src``."""
    return f"""cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM {src} a JOIN {src} b
        ON a.lang = b.lang AND a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id < b.doc_id
       AND a.sz * 100 >= b.sz * 95 AND b.sz * 100 >= a.sz * 95)"""


def _d_lsh_pairs(src: str) -> str:
    """DuckDB: ``_d_lsh_cand(src)`` and ``pairs(doc_id_a, doc_id_b,
    jaccard)``, the candidates verified at τ."""
    return f"""{_d_lsh_cand(src)},
    pairs AS MATERIALIZED (
      SELECT doc_id_a, doc_id_b, {_D_JACCARD} AS jaccard
      FROM cand
      JOIN th ta ON ta.doc_id = cand.doc_id_a
      JOIN th tb ON tb.doc_id = cand.doc_id_b
      WHERE {_D_JACCARD} >= {_JACCARD_TAU})"""


#: DuckDB: the MinHash-LSH verified pair chain, ending in
#: pairs(doc_id_a, doc_id_b, jaccard).
_D_LSH_PAIRS = f"{_D_LSH_KEYED},\n    {_d_lsh_pairs('keyed')}"


@register(
    "q_dedup_minhash",
    oracle=f"WITH {_D_LSH_PAIRS} SELECT doc_id_a, doc_id_b, jaccard FROM pairs",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding, the dedup pipeline that scales: token
    hashes → 16 minhashes → 4 bands of 4 → candidates sharing a bucket
    → exact Jaccard ≥ ``_JACCARD_TAU``.

    Detection probability at τ = 0.95 is 1−(1−τ⁴)⁴ ≈ 0.999. Every hash
    is portable, so the candidates and the verified pairs equal the
    oracle's replication of the same pipeline. The candidate join
    carries the Jaccard size band, which prunes bucket collisions before
    they cost an intersect without changing the result.

    Cost: no quadratic stage; checkpoints of the token hashes and the
    bucket keys (each read twice), one shuffle on (lang, band, bucket),
    then the verify joins."""
    toks = _tok_hashes(spark, sf_dir)
    keyed = ckpt(_band_keyed(_sigs(toks)))
    return _jaccard_pairs(_lsh_candidates(keyed), toks)


_EMBED_TAU = 0.40  # demonstration threshold: testdata vectors are random
# N(0,σ) so true near-dup cosines (≥0.95) don't occur; production τ≈0.95+.


def _rhp_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e, nrm): every embedding as doubles with its norm
    (zero-norm vectors kept, as the oracles keep them). The sketches
    are computed from it and it is the verify step's side frame: a
    narrow scan, so no caller rebuilds vector rows from a band-exploded
    frame. Spread over ``defaultParallelism`` (see ``_toks_df``)."""
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


def _cosine_pairs(cand: DataFrame | None, vecs: DataFrame) -> DataFrame:
    """Cosine verify at ``_EMBED_TAU`` over ``_rhp_vecs`` rows:
    (vec_id_a, vec_id_b, cosine) with the cosine at 4dp. The threshold
    reads the raw double; ``cand`` None is the all-pairs reference."""
    return _verify(
        cand,
        [vecs],
        {"cos_raw": _cosine_pre("e_a", "e_b", "nrm_a", "nrm_b")},
        F.col("cos_raw") >= _EMBED_TAU,
        [rz("cos_raw", 4).alias("cosine")],
    )


#: DuckDB: the embeddings as DOUBLE[] vectors.
_D_V = "v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"


def _d_cosine_pairs(cand: str) -> str:
    """DuckDB: candidate CTE ``cand`` verified at ``_EMBED_TAU`` —
    (vec_id_a, vec_id_b, cosine)."""
    return f"""SELECT vec_id_a, vec_id_b,
           (round(list_cosine_similarity(va.e, vb.e), 4) + 0.0) AS cosine
    FROM {cand}
    JOIN v va ON va.vec_id = {cand}.vec_id_a
    JOIN v vb ON vb.vec_id = {cand}.vec_id_b
    WHERE list_cosine_similarity(va.e, vb.e) >= {_EMBED_TAU}"""


#: DuckDB: every vector pair with cosine ≥ _EMBED_TAU.
_D_EMBED_PAIRS = f"""SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           (round(list_cosine_similarity(a.e, b.e), 4) + 0.0) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= {_EMBED_TAU}"""


@register("q_dedup_embed", oracle=f"WITH {_D_V} {_D_EMBED_PAIRS}")
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over all vector pairs, computed
    with higher-order functions only (zip_with dot over precomputed
    norms). The exact reference: it is quadratic by definition, and
    ``q_dedup_embed_lsh_scaled`` is the scale path (equi-join
    candidates, no cartesian product; test_plans pins that)."""
    return _cosine_pairs(None, _rhp_vecs(spark, sf_dir))


# --- random-hyperplane LSH for embedding near-dup ------------------------

#: 32 deterministic Rademacher (±1) hyperplanes over the 64-dim
#: embedding space, banded 4×8. Fixed seed → identical literal matrix
#: in the Spark expression and the DuckDB oracle.
_RHP_BANDS = 4
_RHP_ROWS = 8
_RHP_DIM = 64


def _rhp_matrix(n_rows: int, seed: int) -> list[list[float]]:
    import numpy as np

    rng = np.random.default_rng(seed)
    m = rng.integers(0, 2, size=(n_rows, _RHP_DIM)) * 2 - 1
    return [[float(x) for x in row] for row in m]


def _rhp_bits(matrix: list[list[float]]) -> tuple[str, str]:
    """(Spark SQL, DuckDB SQL): the sign bits of the projections of the
    double array ``e`` onto the rows of ``matrix``, compiled in as a
    ±1.0 literal."""
    rows = [[("1.0" if x > 0 else "-1.0") for x in row] for row in matrix]
    spark = "array(" + ", ".join("array(" + ",".join(r) + ")" for r in rows) + ")"
    duck = "[" + ", ".join("[" + ",".join(r) + "]" for r in rows) + "]"
    return (
        f"transform({spark}, row -> "
        "if(aggregate(zip_with(e, row, (x, y) -> x * y), 0D, (acc, x) -> acc + x) >= 0D, 1, 0))",
        f"list_transform({duck}, row -> "
        "CASE WHEN list_dot_product(e, row) >= 0 THEN 1 ELSE 0 END)",
    )


_RHP_BITS, _D_RHP_BITS = _rhp_bits(_rhp_matrix(_RHP_BANDS * _RHP_ROWS, 42))


def _rhp_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 4×8 sign-LSH banding: (vec_id, e, nrm, band, bucket), one
    row per (vector, band)."""
    v = _rhp_vecs(spark, sf_dir).withColumn("bits", F.expr(_RHP_BITS))
    return _banded(v, ["vec_id", "e", "nrm"], "bits", _RHP_BANDS, _RHP_ROWS, _RHP_ROWS, "")


def _rhp_pairs(keyed: DataFrame, vecs: DataFrame) -> DataFrame:
    """Sign-LSH pairs of a (possibly capped) keyed frame: candidates
    sharing a (band, bucket), then the cosine verify against ``vecs``
    (the ``_rhp_vecs`` scan; a superset of the keyed ids is fine, the
    candidate ids filter it). The candidate distinct carries 16-byte id
    pairs, not the 64-dim vectors (test_plans pins this)."""
    cand = _candidates(
        keyed, keyed, ["band", "bucket"], band=None, ordered=True, spread=False
    )
    return _cosine_pairs(cand, vecs)


#: nomination cap per (band, bucket) for the embedding-LSH skew guard —
#: bounds candidate volume at buckets × cap² regardless of corpus size.
_EMB_BUCKET_CAP = 40


def _rhp_capped(keyed: DataFrame) -> DataFrame:
    """(vec_id, band, bucket): the ``_EMB_BUCKET_CAP`` smallest vec_ids of
    every (band, bucket) — the one cap policy of both the production op
    and the recall audit. The vector payload is dropped before the
    row_number exchange; the verify re-joins vectors from
    ``_rhp_vecs``. The cap is read at call time."""
    w = Window.partitionBy("band", "bucket").orderBy(F.col("vec_id").asc())
    return (
        keyed.select("vec_id", "band", "bucket")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _EMB_BUCKET_CAP)
        .drop("rn")
    )


#: DuckDB: fixed 4×8 sign-LSH keyed rows, keyed(vec_id, band, bucket).
_D_RHP_KEYED = f"""{_D_V},
    bits AS (SELECT vec_id, {_D_RHP_BITS} AS b FROM v),
    keyed AS MATERIALIZED (
      SELECT vec_id, band,
             array_to_string(b[band * {_RHP_ROWS} + 1 :
                               band * {_RHP_ROWS} + {_RHP_ROWS}], '') AS bucket
      FROM (SELECT *, CAST(UNNEST(range({_RHP_BANDS})) AS INT) AS band
            FROM bits))"""

#: DuckDB: the per-(band, bucket) nomination cap over keyed.
_D_RHP_CAPPED = f"""capped AS MATERIALIZED (
      SELECT vec_id, band, bucket FROM (
        SELECT vec_id, band, bucket,
               row_number() OVER (PARTITION BY band, bucket
                                  ORDER BY vec_id ASC) AS rn
        FROM keyed)
      WHERE rn <= {_EMB_BUCKET_CAP})"""


def _d_rhp_cand(name: str, src: str) -> str:
    """DuckDB: CTE ``name``, the distinct (vec_id_a < vec_id_b) pairs of
    keyed CTE ``src`` sharing a (band, bucket)."""
    return f"""{name} AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
      FROM {src} a JOIN {src} b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)"""


@register(
    "q_dedup_embed_lsh",
    oracle=f"""WITH {_D_RHP_KEYED},
    {_d_rhp_cand("cand", "keyed")}
    {_d_cosine_pairs("cand")}""",
)
def q_dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH (SimHash for
    cosine, Charikar 2002): 32 fixed Rademacher hyperplanes give each
    vector a 32-bit sign sketch, and 4×8 banding makes the candidates an
    equi-join on (band, 8-bit bucket) — no cross join, O(n·bands) work
    plus the verify of colliding pairs.

    P(bit agree) = 1 − θ/π: at τ ≈ 0.95 the scheme catches ~90% of true
    pairs, at this corpus's demonstration τ = 0.40 ~10% (sign-LSH is
    built for the high-τ regime); the oracle replicates the pipeline,
    so the output is checked wherever the S-curve sits. Signs agree
    across engines unless a projection lands within rounding of 0.

    Fixed width saturates: 256 buckets per band make candidate volume
    O(n²/2⁸), and at 200k vectors the verify filled the spill disk
    (SCALE.md). Corpora should use ``q_dedup_embed_lsh_scaled`` or
    ``q_dedup_embed_lsh_capped``."""
    return _rhp_pairs(_rhp_keyed(spark, sf_dir), _rhp_vecs(spark, sf_dir))


@register(
    "q_dedup_embed_lsh_capped",
    oracle=f"""WITH {_D_RHP_KEYED},
    {_D_RHP_CAPPED},
    {_d_rhp_cand("cand", "capped")}
    {_d_cosine_pairs("cand")}""",
)
def q_dedup_embed_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_embed_lsh with a per-(band, bucket) nomination cap
    (``_rhp_capped``): candidates are bounded at buckets × cap²,
    independent of corpus size, at the cost of recall inside over-full
    buckets — q_dedup_minhash_capped's trade. The vector side is the
    uncapped scan; the candidate ids filter it."""
    return _rhp_pairs(
        _rhp_capped(_rhp_keyed(spark, sf_dir)), _rhp_vecs(spark, sf_dir)
    )


# --- corpus-scaled sign-LSH (q_dedup_embed_lsh_scaled) --------------------
#
# Bits per band is an index-build parameter that grows with the corpus:
#
#     w = clamp(ceil(log2(n)) - 6, 4, 16)
#
# -6 targets ~2^6 = 64 vectors per bucket, so bucket population n/2^w —
# and candidate volume O(n·bands·64) — stays flat as n grows (12 bits at
# 200k vectors, SCALE.md). The clamp floor keeps tiny corpora off 1-bit
# buckets; the ceiling bounds the hyperplane matrix at 4 × 16 rows.

_RHP_SC_BANDS = 4
_RHP_SC_WMAX = 16
_RHP_SC_WMIN = 4
_RHP_SC_LOG_OFF = 6  # targets ~2^6 vectors/bucket at any corpus size

_RHP_SC_BITS, _D_RHP_SC_BITS = _rhp_bits(
    _rhp_matrix(_RHP_SC_BANDS * _RHP_SC_WMAX, 43)
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
    """Corpus-scaled sign-LSH banding: (vec_id, e, nrm, band, bucket)
    with bucket width w = clamp(⌈log₂ n⌉−6, 4, 16). The width comes from
    a one-row count aggregate broadcast into the plan, with no driver
    round-trip; each band owns a 16-bit stripe of the sketch and its
    bucket is the stripe's w-bit prefix."""
    v = _rhp_vecs(spark, sf_dir).withColumn("bits", F.expr(_RHP_SC_BITS))
    nn = v.agg(F.count(F.lit(1)).alias("n"))
    return _banded(
        v.crossJoin(F.broadcast(nn)).withColumn("w", F.expr(_RHP_SC_W_SQL)),
        ["vec_id", "e", "nrm"],
        "bits",
        _RHP_SC_BANDS,
        _RHP_SC_WMAX,
        "w",
        "",
    )


#: DuckDB: the scaled-width candidate chain (v → wd → bits → keyed →
#: cand), shared by the pair oracle and the CC/survivor compositions.
_D_RHP_SC_CAND = f"""{_D_V},
    wd AS (SELECT {_RHP_SC_W_SQL} AS w
           FROM (SELECT COUNT(*) AS n FROM v)),
    bits AS (SELECT vec_id, {_D_RHP_SC_BITS} AS b FROM v),
    keyed AS MATERIALIZED (
      SELECT vec_id, band,
             array_to_string(b[band * {_RHP_SC_WMAX} + 1 :
                               band * {_RHP_SC_WMAX} + w], '') AS bucket
      FROM (SELECT *, CAST(UNNEST(range({_RHP_SC_BANDS})) AS INT) AS band
            FROM bits)
      CROSS JOIN wd),
    {_d_rhp_cand("cand", "keyed")}"""

#: the same chain extended to verified pairs(doc_id_a, doc_id_b) — the
#: shape _cc_oracle_prefix composes over (vec ids double as doc ids:
#: embeddings ⋈ documents is 1:1 by construction, TESTDATA.md).
_D_RHP_SC_PAIRS = f"""{_D_RHP_SC_CAND},
    pairs AS MATERIALIZED (
      SELECT vec_id_a AS doc_id_a, vec_id_b AS doc_id_b
      FROM ({_d_cosine_pairs("cand")}))"""


@register(
    "q_dedup_embed_lsh_scaled",
    oracle=f"""WITH {_D_RHP_SC_CAND}
    {_d_cosine_pairs("cand")}""",
)
def q_dedup_embed_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH with corpus-scaled bucket
    width — the production embedding-dedup path. Bits per band follow
    w = clamp(⌈log₂ n⌉−6, 4, 16), so bucket population and candidate
    density stay about constant as the corpus grows (FAISS and
    production LSH systems size hash width by corpus the same way). The
    rule gives w = 4 at 500 vectors, 5 at 2000 and 12 at 200k.

    Narrower buckets at small n mean more collisions, so recall at
    small n is ≥ the fixed twin's, and the exact-cosine verify keeps
    precision exact at any width."""
    return _rhp_pairs(_rhp_scaled_keyed(spark, sf_dir), _rhp_vecs(spark, sf_dir))


def _scaled_pair_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scaled-LSH pairs in the pair contract, (doc_id_a, doc_id_b):
    vec ids double as doc ids (embeddings ⋈ documents is 1:1 by
    construction, TESTDATA.md)."""
    return q_dedup_embed_lsh_scaled(spark, sf_dir).select(
        F.col("vec_id_a").alias("doc_id_a"),
        F.col("vec_id_b").alias("doc_id_b"),
    )


@register(
    "q_dedup_cluster_embed",
    oracle=_cc_oracle_prefix(_D_RHP_SC_PAIRS) + _d_clusters("vec_id"),
)
def q_dedup_cluster_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the embedding near-dup graph — the
    semantic-dedup cluster shape (SemDeDup-style: embedding cosine
    catches paraphrases that token Jaccard misses). Pairs come from the
    corpus-scaled sign-LSH; CC is ``_cluster_over_pairs``. The
    exact-cosine verify makes the pair set, and so the min-label
    fixpoint, identical in both engines."""
    pairs = _scaled_pair_frame(spark, sf_dir)
    return _cluster_over_pairs(spark, pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "n_members"
    )


@register(
    "q_dedup_survivor_embed",
    oracle=_cc_oracle_prefix(_D_RHP_SC_PAIRS) + _D_SURVIVORS,
)
def q_dedup_survivor_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic dedup decision: within each embedding-similarity
    cluster keep the longest document (min doc_id on ties) — the chain a
    SemDeDup-style pipeline ships (embed → scaled-LSH candidates →
    exact-cosine verify → CC → quality pick). q_dedup_survivor_lsh with
    the pair source swapped to sign-LSH."""
    return _survivor_over_pairs(spark, sf_dir, _scaled_pair_frame(spark, sf_dir))


_BUCKET_CAP = 40  # max docs per (lang, band, bucket) before it's "boilerplate"


@register(
    "q_dedup_minhash_capped",
    oracle=f"""WITH {_D_LSH_KEYED},
    sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY lang, band, bucket) AS bucket_n
      FROM keyed),
    kept AS (SELECT * FROM sized WHERE bucket_n <= {_BUCKET_CAP}),
    {_d_lsh_pairs("kept")}
    SELECT doc_id_a, doc_id_b, jaccard FROM pairs""",
)
def q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with a hot-bucket cap, the production skew guard: a
    band bucket with more than ``_BUCKET_CAP`` documents is boilerplate
    (a shared header, a template), and its |bucket|² candidates would
    dominate the join. Such buckets are dropped before the candidate
    step by a windowed count per bucket key — no extra shuffle, the
    count partitions by the key the join shuffles on.

    Deliberately lossy: pairs visible only in a hot bucket are lost.
    q_dedup_minhash is the reference; the oracle replicates the same
    deterministic cap."""
    toks = _tok_hashes(spark, sf_dir)
    bw = Window.partitionBy("lang", "band", "bucket")
    kept = ckpt(
        _band_keyed(_sigs(toks))
        .withColumn("bucket_n", F.count(F.lit(1)).over(bw))
        .where(F.col("bucket_n") <= _BUCKET_CAP)
        .drop("bucket_n")
    )
    return _jaccard_pairs(_lsh_candidates(kept), toks)


@register(
    "q_dedup_cluster",
    oracle=_cc_oracle_prefix(_D_NEAR_PAIRS) + _d_clusters("doc_id"),
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-duplicate pair graph, the step
    that turns pairs into dedup decisions: transitively linked docs form
    one cluster (A≈B, B≈C ⇒ {A,B,C}), whose canonical survivor is its
    minimum doc_id. Output: every doc in at least one pair, its cluster
    id and the cluster size.

    Pairs are ``q_dedup_near``'s exact lang-blocked join, quadratic per
    language (α ≈ 1.25 at the 10× stress step, SCALE.md) — the exact
    reference; ``q_dedup_cluster_lsh`` runs the same CC over MinHash-LSH
    pairs. CC is ``_cluster_over_pairs``: below 250k pairs one
    union-find pass over all of them, which labels each vertex with
    its component minimum directly; above, per-partition contraction
    then the min-label loop. Contraction keeps every vertex and exactly
    the pairs' connectivity; the loop's labels always name a vertex of
    the same component, only decrease, and at the fixpoint equal the
    component minimum, for any partitioning of the pairs. The oracle
    computes the same fixpoint over the uncontracted graph."""
    return _cluster_over_pairs(spark, q_dedup_near(spark, sf_dir))


def _pair_ckpt(pair_df: DataFrame) -> tuple[DataFrame, int]:
    """A pair-contract frame, eagerly checkpointed as (doc_id_a,
    doc_id_b), and its row count, observed on that checkpoint job — the
    count that sizes the CC and PageRank parallelism costs no job of
    its own."""
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
    """Connected components of a pair-contract frame → (doc_id,
    cluster_id, n_members), cluster_id the component's minimum doc_id.

    ``_pair_ckpt`` materializes the pairs (the smallest frame) once and
    its observed count sizes ``parts``. With ``parts == 1`` the answer
    is one lazy ``mapInPandas`` pass over the checkpointed pairs
    (``_local_components``): the union-find over the whole graph, with
    ``n_members`` from a bincount of its labels. Otherwise the pairs
    are coalesced to ``parts`` partitions, each is contracted by
    ``_local_contract`` into star edges to its local component minima,
    and ``_min_label_propagate`` iterates those to the global fixpoint.
    Pass ``n_pairs`` with a frame ``_pair_ckpt`` already returned to
    share that materialization."""
    if n_pairs is None:
        pair_df, n_pairs = _pair_ckpt(pair_df)
    parts = _pair_parts(spark, n_pairs)
    pairs = pair_df.select("doc_id_a", "doc_id_b").coalesce(parts)
    if parts == 1:
        return pairs.mapInPandas(
            _local_components, "doc_id long, cluster_id long, n_members long"
        )
    edges = pairs.mapInPandas(_local_contract, "src long, dst long")
    labels = _min_label_propagate(edges, parts)
    w = Window.partitionBy("cluster_id")
    return labels.select("doc_id", F.col("label").alias("cluster_id")).withColumn(
        "n_members", F.count(F.lit(1)).over(w)
    )


def _union_find(batches):
    """One partition's ``(doc_id_a, doc_id_b)`` pair batches → ``(verts,
    label)``: the sorted distinct vertices and, per vertex, the index
    of its component's minimum vertex; ``None`` for an empty partition.
    A vectorised union-find: min-label steps + pointer jumping over
    ``np.unique`` vertex indices, to a fixpoint."""
    import numpy as np

    frames = [b for b in batches if len(b)]
    if not frames:
        return None
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
            return verts, label


def _local_components(batches):
    """``mapInPandas`` body over ALL the pairs (one partition): every
    vertex with its component minimum and the component's size,
    ``(doc_id, cluster_id, n_members)``. An empty graph emits
    nothing."""
    import numpy as np
    import pandas as pd

    if (uf := _union_find(batches)) is None:
        return
    verts, label = uf
    yield pd.DataFrame(
        {
            "doc_id": verts,
            "cluster_id": verts[label],
            "n_members": np.bincount(label)[label],
        }
    )


def _local_contract(batches):
    """``mapInPandas`` body: one partition's ``(doc_id_a, doc_id_b)``
    pairs → symmetric star edges ``(src, dst)`` over the partition-local
    components (``_union_find``): every vertex ``v`` with local
    component minimum ``r`` emits ``(v, r)`` and, unless it is ``r``,
    ``(r, v)`` — so every vertex is still a ``dst``, each root keeps a
    self-loop, and the edge set links exactly the vertices the input
    pairs did. An empty partition emits nothing."""
    import numpy as np
    import pandas as pd

    if (uf := _union_find(batches)) is None:
        return
    verts, label = uf
    root = verts[label]
    leaf = label != np.arange(len(verts))
    yield pd.DataFrame(
        {
            "src": np.concatenate([verts, root[leaf]]),
            "dst": np.concatenate([root, verts[leaf]]),
        }
    )


@register(
    "q_dedup_cluster_lsh",
    oracle=_cc_oracle_prefix(_D_LSH_PAIRS) + _d_clusters("doc_id"),
)
def q_dedup_cluster_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH verified pair graph —
    the corpus-scale cluster shape: q_dedup_cluster's CC over
    q_dedup_minhash's O(n·bands) candidates instead of the quadratic
    exact join. Both engines run the same deterministic md5 pipeline, so
    a missed candidate pair could only split a cluster identically in
    both, never make them diverge."""
    return _cluster_over_pairs(spark, q_dedup_minhash(spark, sf_dir))


@register(
    "q_dedup_survivor",
    oracle=_cc_oracle_prefix(_D_NEAR_PAIRS) + _D_SURVIVORS,
)
def q_dedup_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision a training pipeline ships: within each
    near-duplicate cluster keep the highest-quality member (longest
    text, ``n_chars``; min doc_id on ties) and flag the rest droppable.
    Min-doc_id survivors would bias toward whatever was crawled first.
    ``_survivor_over_pairs`` over q_dedup_cluster's pairs."""
    return _survivor_over_pairs(spark, sf_dir, q_dedup_near(spark, sf_dir))


def _survivor_over_pairs(
    spark: SparkSession, sf_dir: str, pair_df: DataFrame
) -> DataFrame:
    """A pair-contract frame's clusters (``_cluster_over_pairs``) →
    (doc_id, cluster_id, n_members, keep): per cluster the longest
    ``n_chars`` wins, min doc_id on ties.

    The clusters are vertex-sized (docs in ≥ 1 pair), so the quality
    join broadcasts them against the corpus scan — but only while they
    can have at most ``_SURVIVOR_BROADCAST_MAX_ROWS`` rows: in a
    boilerplate-heavy corpus they can be a large share of it, and past
    the threshold a shuffle join is the right plan. A pair names at
    most 2 vertices, so the bound is 2 × the pair count ``_pair_ckpt``
    observed, and the choice costs no job; the pick is one row_number
    window per cluster."""
    pairs, n_pairs = _pair_ckpt(pair_df)
    clusters = _cluster_over_pairs(spark, pairs, n_pairs)
    if 2 * n_pairs <= _SURVIVOR_BROADCAST_MAX_ROWS:
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
    oracle=_cc_oracle_prefix(_D_LSH_PAIRS) + _D_SURVIVORS,
)
def q_dedup_survivor_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality survivors over the MinHash-LSH clusters — the end-to-end
    corpus-scale dedup decision: banded candidates → exact-Jaccard
    verify → CC → per-cluster quality winner (cluster_lsh α 0.37 at the
    10× stress step, SCALE.md). q_dedup_survivor is the exact twin."""
    return _survivor_over_pairs(spark, sf_dir, q_dedup_minhash(spark, sf_dir))


def _min_label_propagate(
    edges: DataFrame, parts: int, max_probes: int = 50
) -> DataFrame:
    """Connected-components core: min-label propagation + pointer
    jumping over a symmetric ``(src, dst)`` edge list; returns
    ``(doc_id, label)`` with label = component-min vertex.

    Probe 0 is join-free: with self-pointer labels the neighbor and jump
    joins degenerate, so the first labels are min(v, min src over v's
    incoming edges), one aggregate that also yields the vertex set. Each
    probe then takes the min of a vertex's label, its neighbors' labels
    and its label's label, and checkpoints eagerly. Labels only
    decrease, so the label sum — observed on the checkpoint job, no
    extra job — is constant exactly at the fixpoint. Pointer jumping
    halves id-increasing paths per probe; long paths with random ids
    still advance a few vertices per probe, so ``max_probes`` bounds
    the diameter and raises instead of returning a wrong fixpoint. AQE
    sizes each round's shuffle to the actual label table."""
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
    oracle=f"""WITH {_D_LSH_KEYED},
    cand AS (
      SELECT DISTINCT b.doc_id AS batch_id, i.doc_id AS index_id
      FROM keyed b JOIN keyed i
        ON b.lang = i.lang AND b.band = i.band AND b.bucket = i.bucket
      WHERE b.{_BATCH_PRED} AND NOT (i.{_BATCH_PRED})
        AND b.sz * 100 >= i.sz * 95 AND i.sz * 100 >= b.sz * 95),
    ver AS (
      SELECT batch_id, index_id, {_D_JACCARD} AS jaccard
      FROM cand
      JOIN th ta ON ta.doc_id = cand.batch_id
      JOIN th tb ON tb.doc_id = cand.index_id),
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
    """Incremental dedup, the production crawl shape: an incoming batch
    (``_BATCH_PRED``) against the existing index instead of the corpus
    against itself. Every batch document is 'new', or 'dup' with its
    smallest matching index doc_id and the verified Jaccard.

    The candidates are batch bands ⋈ index bands (two sides, no id
    order). At scale the index bands are built once and stored
    partitioned by (lang, band, bucket), so a batch shuffles only its
    own bands; here they are derived inline. Duplicates inside the
    batch are out of scope (run q_dedup_minhash on the batch first).
    The verify scores every candidate; the attribution is a left join,
    so 'new' documents carry NULL match columns."""
    toks = _tok_hashes(spark, sf_dir)
    keyed = ckpt(_band_keyed(_sigs(toks)))
    is_batch = F.expr(_BATCH_PRED)
    cand = _candidates(
        keyed.where(is_batch),
        keyed.where(~is_batch),
        _LSH_KEYS,
        band=_JACCARD_BAND,
        ordered=False,
        spread=False,
    )
    inter = F.size(F.array_intersect("tokh_a", "tokh_b"))
    ver = _verify(
        cand,
        [toks.select("doc_id", "tokh")],
        {"jaccard": inter.cast("double") / (F.size("tokh_a") + F.size("tokh_b") - inter)},
        None,
        ["jaccard"],
    )
    hit = (
        ver.where(F.col("jaccard") >= _JACCARD_TAU)
        .groupBy("doc_id_a")
        .agg(F.min("doc_id_b").alias("match_doc_id"))
    )
    # re-join ver on both keys, renamed against self-join ambiguity, for
    # the Jaccard of the chosen match
    best = hit.join(
        ver.withColumnRenamed("doc_id_a", "b2").withColumnRenamed("doc_id_b", "m2"),
        (F.col("doc_id_a") == F.col("b2")) & (F.col("match_doc_id") == F.col("m2")),
    ).select("doc_id_a", "match_doc_id", "jaccard")
    batch_docs = toks.where(is_batch).select("doc_id")
    return (
        batch_docs.join(best, batch_docs.doc_id == best.doc_id_a, "left")
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
    oracle=f"""WITH {_D_LSH_KEYED},
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
    """LSH bucket populations per (lang, band) — the diagnostic that
    chooses between q_dedup_minhash and its capped variant before the
    pair join runs: ``implied_pairs`` (Σ k·(k−1)/2) is the candidate
    join's output size before paying for it, and ``max_bucket`` /
    ``hot_buckets`` (> ``_BUCKET_CAP``) expose boilerplate clusters.

    Cost: one groupBy on the band table (the pair join's shuffle key)
    and |lang|·|bands| output rows. Integer-exact: counts and
    k·(k−1)/2 are BIGINT."""
    keyed = _band_keyed(_sigs(_toks_df(spark, sf_dir).withColumn("tokh", F.expr(_TOKH))))
    per_bucket = keyed.groupBy("lang", "band", "bucket").agg(
        F.count(F.lit(1)).alias("k")
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


def _audit_row(counts: dict[str, DataFrame], *extra: Column) -> DataFrame:
    """One row: the row count of each frame in ``counts`` (name → frame)
    as bigint, then the ``extra`` columns over those counts. Each count
    is a one-row aggregate broadcast into a cross join, so the row adds
    no corpus-sized shuffle."""
    (name, df), *rest = counts.items()
    row = df.agg(F.count(F.lit(1)).alias(name))
    for name, df in rest:
        row = row.crossJoin(F.broadcast(df.agg(F.count(F.lit(1)).alias(name))))
    return row.select(*[F.col(c).cast("bigint").alias(c) for c in counts], *extra)


def _bp(num: str, den: str) -> Column:
    """10000·num div den, in basis points; NULL when den is 0. Integer
    division of non-negative counts: truncation is floor in both
    engines."""
    return F.when(F.col(den) > 0, F.expr(f"cast((10000 * {num}) div {den} as bigint)"))


@register(
    "q_dedup_lsh_recall",
    oracle=f"""WITH {_D_LSH_PAIRS},
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
    """LSH recall and precision audit, one row: ``n_true`` exact pairs
    (``_exact_tau_pairs`` over the md5 token hashes the verify step
    uses), ``n_candidates`` banded candidates and ``n_verified``
    candidates passing the verify (= true ∩ candidates, so ``n_missed``
    ≥ 0 by construction), with recall and precision in basis points.
    Theory says 1−(1−τ⁴)⁴ ≈ 0.999 at τ = 0.95 under 4×4 banding; this
    measures it on the corpus at hand.

    Cost: the ground truth is quadratic within a language by definition
    of recall — at scale, audit a sampled stratum; the candidate and
    verify legs are the production shape."""
    toks = _tok_hashes(spark, sf_dir)
    cand = _lsh_candidates(ckpt(_band_keyed(_sigs(toks))))
    return _audit_row(
        {
            "n_true": _exact_tau_pairs(toks, "tokh", _JACCARD_TAU, _JACCARD_BAND),
            "n_candidates": cand,
            "n_verified": _jaccard_pairs(cand, toks),
        },
        (F.col("n_true") - F.col("n_verified")).cast("bigint").alias("n_missed"),
        _bp("n_verified", "n_true").alias("recall_bp"),
        _bp("n_verified", "n_candidates").alias("precision_bp"),
    )


@register(
    "q_dedup_embed_recall",
    oracle=f"""WITH {_D_RHP_KEYED},
    {_D_RHP_CAPPED},
    {_d_rhp_cand("cand_p", "keyed")},
    ver_p AS MATERIALIZED ({_d_cosine_pairs("cand_p")}),
    {_d_rhp_cand("cand_c", "capped")},
    ver_c AS MATERIALIZED ({_d_cosine_pairs("cand_c")}),
    true_pairs AS MATERIALIZED ({_D_EMBED_PAIRS}),
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
    """Sign-LSH recall audit, q_dedup_lsh_recall's embedding twin, one
    row: the exact all-pairs cosine-τ truth (q_dedup_embed), the pairs
    4×8 banding verifies, and those left after the nomination cap
    (``_rhp_capped``, the production policy), with both recalls in
    basis points.

    At the demonstration τ = 0.40 recall is low by theory: a cosine-0.40
    pair agrees with a random hyperplane with p = 1 − acos(0.40)/π ≈
    0.63, so an 8-bit band matches with ≈ 2.5% and any of 4 with ≈ 9.6%;
    the banding is sized for τ ≈ 0.95 (≈ 89%). The audit exposes that
    instead of flattering the index.

    Cost: the ground truth is quadratic by definition (audit a sampled
    stratum at scale); the capped leg's candidates are bounded at
    buckets × cap²."""
    vecs = _rhp_vecs(spark, sf_dir)
    keyed = _rhp_keyed(spark, sf_dir)
    return _audit_row(
        {
            "n_true": q_dedup_embed(spark, sf_dir),
            "n_verified_lsh": _rhp_pairs(keyed, vecs),
            "n_verified_capped": _rhp_pairs(_rhp_capped(keyed), vecs),
        },
        _bp("n_verified_lsh", "n_true").alias("recall_bp_lsh"),
        _bp("n_verified_capped", "n_true").alias("recall_bp_capped"),
    )


_PR_D = 0.85  # damping — single source for BOTH engines' literals
#: stated as its own literal (not computed 1 - _PR_D) so the double is
#: exactly the decimal 0.15 both engines parse; the assert pins the pair.
_PR_ONE_MINUS_D = 0.15
assert _PR_D + _PR_ONE_MINUS_D == 1.0
_PR_ITERS = 3  # unrolled iterations, identical in both engines


def _pr_cte_suffix() -> str:
    """The PR iteration CTEs, for appending to a chain that already
    defines ``pairs`` and the symmetric ``edges``: deg → nv → the rank
    CTEs pr0..pr{_PR_ITERS}."""
    parts = [
        """deg AS MATERIALIZED (SELECT s AS doc_id, COUNT(*) AS deg
           FROM edges GROUP BY s),
    nv AS (SELECT COUNT(*) AS n FROM deg),
    pr0 AS MATERIALIZED (
      SELECT deg.doc_id, deg.deg,
             (1.0 / CAST(nv.n AS DOUBLE)) AS r
      FROM deg CROSS JOIN nv)""",
    ]
    for k in range(_PR_ITERS):
        parts.append(
            f"""pr{k + 1} AS MATERIALIZED (
      SELECT v.doc_id, v.deg,
             (({_PR_ONE_MINUS_D!r} / CAST(nv.n AS DOUBLE))
              + {_PR_D!r} * (CAST(sq.sq AS DOUBLE) / 1e9)) AS r
      FROM deg v
      JOIN (SELECT e.d AS doc_id,
                   SUM(CAST(FLOOR((r.r / CAST(r.deg AS DOUBLE)) * 1e9 + 0.5)
                            AS BIGINT)) AS sq
            FROM edges e JOIN pr{k} r ON r.doc_id = e.s
            GROUP BY e.d) sq
        ON sq.doc_id = v.doc_id
      CROSS JOIN nv)"""
        )
    return ",\n    ".join(parts)


@register(
    "q_graph_pagerank",
    oracle=f"""WITH {_D_LSH_PAIRS},
    {_D_EDGES},
    {_pr_cte_suffix()}
    SELECT doc_id, deg, round(r, 9) AS pr FROM pr{_PR_ITERS}
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the MinHash-LSH near-duplicate graph — centrality
    within duplicate neighborhoods (the most-linked member as the
    canonical one), by ``_pagerank_over_pairs``. The symmetric pair
    graph has no dangling vertices (every vertex has deg ≥ 1), so no
    dangling-mass term is needed.

    Determinism: cross-vertex sums are quantized int64
    (FLOOR(contrib·10⁹+0.5)) — partition-order independent and
    bit-identical across engines; all scalar arithmetic ((1−d)/N + d·s)
    is written with identical association in both, so the rank vector
    is exactly equal at every iteration boundary, not merely close."""
    return _pagerank_over_pairs(spark, q_dedup_minhash(spark, sf_dir))


def _pagerank_over_pairs(
    spark: SparkSession, pair_df: DataFrame, n_pairs: int | None = None
) -> DataFrame:
    """PageRank of a pair-contract frame → (doc_id, deg, pr), ``_PR_ITERS``
    unrolled iterations. The pairs are materialized once with
    ``_pair_ckpt`` (pass ``n_pairs`` with a frame it already returned),
    so the iterations re-read them, not the pair pipeline.

    Edges are repartitioned on the join key with the size-derived
    ``_pair_parts`` bound and checkpointed: without it the stacked
    edge ⋈ rank joins re-derive the edge partitioning per stage and the
    100× stress run runs a single heap-bound task out of memory. Cost
    per iteration: one equi-join on the vertex key and one partial
    aggregate carrying (dst, int64 sum)."""
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
    oracle=_cc_oracle_prefix(_D_LSH_PAIRS)
    + f""",
    {_pr_cte_suffix()},
    {_D_SIZED}
    SELECT s.doc_id, s.cluster_id, s.n_members, round(r.r, 9) AS pr,
           ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                              ORDER BY round(r.r, 9) DESC, s.doc_id ASC) = 1
             AS keep
    FROM sized s JOIN pr{_PR_ITERS} r ON r.doc_id = s.doc_id
    """,
)
def q_dedup_survivor_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality-based survivors: within each near-dup cluster keep the
    member with the highest PageRank in the pair graph — the version
    everything else duplicates; needs no document metadata, only the
    graph. One materialized LSH pair frame feeds both the CC labels and
    the PageRank iterations, so the LSH pipeline runs once; the pick is
    one window over the vertex-sized (label ⋈ rank) join.

    Determinism: CC labels are exact min-labels, ranks are bit-identical
    by the quantized sums, and exact rank ties break by min doc_id."""
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
    oracle=f"""WITH {_D_LSH_KEYED},
    {_d_lsh_cand("keyed")}
    SELECT doc_id_a, doc_id_b,
           CAST(list_sum(list_transform(range(1, {_N_HASHES} + 1),
                i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
             AS BIGINT) AS n_agree,
           list_sum(list_transform(range(1, {_N_HASHES} + 1),
                i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
             ::DOUBLE / {_N_HASHES} AS est_jaccard,
           {_D_JACCARD} AS exact_jaccard,
           CAST(FLOOR(ABS(
               list_sum(list_transform(range(1, {_N_HASHES} + 1),
                    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))
                 ::DOUBLE / {_N_HASHES}
               - {_D_JACCARD}
             ) * 10000 + 0.5) AS BIGINT) AS err_bp
    FROM cand
    JOIN sigs sa ON sa.doc_id = cand.doc_id_a
    JOIN sigs sb ON sb.doc_id = cand.doc_id_b
    JOIN th ta ON ta.doc_id = cand.doc_id_a
    JOIN th tb ON tb.doc_id = cand.doc_id_b
    """,
)
def q_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy, per banding candidate pair: the
    signature-agreement estimate Ĵ = |{i : sig_a[i] = sig_b[i]}| / 16
    beside the exact token Jaccard, and |Ĵ − J| in basis points. The
    recall audit pins which pairs banding surfaces; this pins how well
    the sketch measures them — whether a signature-only pass (no exact
    verify, the cheapest configuration) is acceptable for a given τ.

    Exactness: agreement counts are integer folds over identical
    signatures; Ĵ, J and |Ĵ−J| are single IEEE expressions over those
    integers. Cost: q_dedup_minhash's candidate step, then a verify
    with two side frames (signatures, token hashes) and no threshold —
    linear in candidates."""
    toks = _tok_hashes(spark, sf_dir)
    sigs = ckpt(_sigs(toks))
    cand = _lsh_candidates(_band_keyed(sigs))
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
    return _verify(
        cand,
        [sigs.select("doc_id", "sig"), toks.select("doc_id", "tokh", "sz")],
        {
            "n_agree": n_agree,
            "est_jaccard": F.col("n_agree") / F.lit(float(_N_HASHES)),
            "exact_jaccard": inter / (F.col("sz_a") + F.col("sz_b") - inter),
            "err_bp": F.floor(
                F.abs(F.col("est_jaccard") - F.col("exact_jaccard")) * 10000
                + F.lit(0.5)
            ).cast("bigint"),
        },
        None,
        ["n_agree", "est_jaccard", "exact_jaccard", "err_bp"],
    )


@register(
    "q_graph_triangles",
    oracle=f"""WITH {_D_LSH_PAIRS},
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
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the MinHash-LSH near-duplicate graph
    (the pairs CC and PageRank consume): a node whose pairs close into
    triangles sits in a real clone cluster, while a high-degree node
    with no triangles is a hub stitching unrelated docs together — the
    failure mode that merges distinct clusters under transitive closure.
    Output: (doc_id, n_triangles) for every doc in a triangle.

    Counting uses degree-ordered orientation: each edge points from its
    lower-(degree, id) endpoint to the higher, which makes the graph
    acyclic with out-degrees O(√m); each triangle has exactly one node
    with both out-edges, so wedges (u→v, v→w) ⋈ closing edge (u→w)
    enumerate it once, in O(m^{3/2}) total regardless of skew (the
    oracle's id-ordered join would turn every hub pair into a wedge).
    All joins are equi-joins on vertex keys over the checkpointed pair
    table, so the LSH pipeline runs once."""
    pairs = ckpt(q_dedup_minhash(spark, sf_dir).select("doc_id_a", "doc_id_b"), eager=True)
    deg = (
        pairs.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("deg"))
    )
    ranked = pairs.join(_side(deg, "a"), "doc_id_a").join(_side(deg, "b"), "doc_id_b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("doc_id_a") < F.col("doc_id_b"))
    )
    oriented = ckpt(
        ranked.select(
            F.when(a_first, F.col("doc_id_a")).otherwise(F.col("doc_id_b")).alias("s"),
            F.when(a_first, F.col("doc_id_b")).otherwise(F.col("doc_id_a")).alias("d"),
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


#: DuckDB: s(doc_id, lang, toks, sz), every document's non-empty bigram
#: shingle set.
_D_SHINGLES = f"""t AS MATERIALIZED (
      SELECT doc_id, lang, {_D_BIGRAMS} AS toks FROM documents),
    s AS MATERIALIZED (
      SELECT doc_id, lang, toks, len(toks) AS sz
      FROM t WHERE len(toks) > 0)"""


@register(
    "q_dedup_containment",
    oracle=f"""WITH {_D_SHINGLES}
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           len(list_intersect(a.toks, b.toks))::DOUBLE / a.sz AS containment
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id != b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE / a.sz >= {_CONT_TAU}
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment over bigram shingles: ordered pairs (A, B)
    with |A∩B| / |A| ≥ ``_CONT_TAU`` — the asymmetric relation Jaccard
    cannot see (a short document quoted inside a long one has high
    containment but low Jaccard), so no size band applies. The
    subsumed-document signal: drop A, keep B.

    Candidates come from the PPJoin-family prefix filter, which is
    lossless: order each doc's shingles by ascending global document
    frequency ((df, shingle-hash) ties) and take A's first
    p = sz_A − ⌈τ·sz_A⌉ + 1; any B with |A∩B| ≥ τ·sz_A shares one of
    them, since missing all p caps the intersection at sz_A − p. The
    candidates are an equi-join of the small prefix postings against
    the full inverted index on (lang, shingle-hash). The DuckDB oracle
    is the naive all-pairs definition, so the comparison proves the
    filter drops nothing.

    Cost: one DF aggregate over the exploded shingles, one window for
    the prefix ranks, one posting-list sort-merge join, then the exact
    verify (int64-hashed shingle intersect) on surviving pairs, with
    shuffle widths derived from the estimated candidate volume."""
    t = ckpt(
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)  # see _toks_df
        .select("doc_id", "lang", F.expr(_BIGRAMS).alias("bg"))
        .withColumn("toki", F.expr("transform(bg, t -> xxhash64(t))"))
        .withColumn("sz", F.size("toki"))
        .where(F.col("sz") > 0)
        .drop("bg"),
        # read four times below (postings, prefix sizes, both verify
        # sides)
        eager=True,
    )
    # the posting index is corpus-sized (Σ|doc| rows): never
    # materialized — each of its three uses is a narrow explode over the
    # checkpointed doc table, while a checkpoint of it ran the 500k-doc
    # stress step out of memory
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
        # small (≈(1−τ)·shingle volume), read twice: the volume estimate
        # and the join's probe side
        eager=True,
    )
    # The candidate join emits Σ_tok prefix_count(tok)·df(tok) rows
    # before its distinct (~727M at the 100× stress step, where every
    # "rare" shingle's df is about a clone cluster's size), and each
    # verify row carries a shingle array. Fixed-width shuffles then put
    # hundreds of MB of hash/sort state in a task and run the 8g JVM out
    # of memory, so both widths derive from this volume estimate, keeping
    # per-task state flat at any corpus size.
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
        # both sides corpus-scale → spill-safe sort-merge, never a
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


#: DuckDB: the undirected subsumption graph, ending in pairs(doc_id_a,
#: doc_id_b) — an edge when either direction clears τ
#: (q_dedup_containment's relation, symmetrized).
_D_CONT_PAIRS = f"""{_D_SHINGLES},
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE / a.sz
              >= {_CONT_TAU}
         OR len(list_intersect(a.toks, b.toks))::DOUBLE / b.sz
              >= {_CONT_TAU})"""


@register(
    "q_dedup_cluster_containment",
    oracle=_cc_oracle_prefix(_D_CONT_PAIRS) + _d_clusters("doc_id"),
)
def q_dedup_cluster_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the subsumption graph: documents linked
    when either direction of bigram containment clears ``_CONT_TAU``
    collapse into one keep-the-superset group, and chains of partial
    quoting (A ⊂ B ⊂ C) merge transitively though A and C alone might
    not qualify. ``_cluster_over_pairs`` over q_dedup_containment's
    pairs, brought into the pair contract by least/greatest + distinct;
    the oracle computes the same fixpoint over the naive all-pairs
    either-direction graph."""
    directed = q_dedup_containment(spark, sf_dir)
    und = directed.select(
        F.least("doc_id_a", "doc_id_b").alias("doc_id_a"),
        F.greatest("doc_id_a", "doc_id_b").alias("doc_id_b"),
    ).distinct()
    return _cluster_over_pairs(spark, und)
