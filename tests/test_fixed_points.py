"""Cross-operator semantic FIXED-POINT tests.

The DuckDB differential gate proves every operator matches its oracle
on the same input; these tests close an orthogonal loop the gate cannot
see: feed an operator's OUTPUT back through the library's own detectors
and assert the semantic guarantee the transformation claims to
establish.  A bug applied symmetrically to both engines (a wrong
constant, a wrong cut policy, a survivor window ordered the wrong way)
passes the hash differential — Spark and DuckDB agree on the wrong
answer — but breaks these closed-loop invariants:

  * cut-all span removal      → no original duplicated span survives
  * keep-one-canonical        → dominated by cut-all, same token counts
  * exact dedup               → idempotent (re-dedup removes nothing)
  * near-dup survivor select  → the kept corpus has ZERO verified pairs

The re-runs happen on a corpus the operator itself produced, written
back through the same `documents` schema the loaders enforce — i.e.
the composition a real pipeline ships (clean → write → next stage
reads) rather than an in-memory shortcut.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from copy_databasetables_spark.io import SCHEMAS, load_table, table_path
from copy_databasetables_spark.operators.dedup import (
    q_dedup_exact,
    q_dedup_near,
    q_dedup_survivor,
)
from copy_databasetables_spark.operators._helpers import _H, _SPAN_K
from copy_databasetables_spark.operators.text import (
    q_text_strip_spans,
    q_text_strip_spans_keep1,
)

from tests.conftest import SF_SMOKE


def _span_hashes(df, text_col: str):
    """Explode ``text_col`` into the library's own K-token span hashes
    (same _SPAN_K, same md5→60-bit macro the operators use), one row
    per (doc_id, h)."""
    tok = f"split({text_col}, ' ')"
    span_str = f"array_join(slice({tok}, i, {_SPAN_K}), ' ')"
    spans = (
        f"case when size({tok}) >= {_SPAN_K} then "
        f"transform(sequence(1, size({tok}) - {_SPAN_K} + 1), "
        f"i -> {_H.format(x=span_str)}) else array() end"
    )
    return df.select("doc_id", F.explode(F.expr(spans)).alias("h"))


def _write_documents(df, tmp_path) -> str:
    """Write a documents-shaped frame as ``<tmp>/documents.parquet`` so
    operators can re-read it through the schema-enforcing loader."""
    cols = [f.name for f in SCHEMAS["documents"].fields]
    df.select(*cols).write.mode("overwrite").parquet(
        table_path(str(tmp_path), "documents")
    )
    return str(tmp_path)


def test_strip_spans_cut_all_kills_every_original_dup_span(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    dup = (
        _span_hashes(docs, "text")
        .groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("h")
    )
    n_dup = dup.count()
    assert n_dup > 0, "sf0.001 must contain duplicated spans for this test to bite"

    cleaned = q_text_strip_spans(spark, SF_SMOKE)
    # The cut-all policy's contract: NO occurrence of any cross-document
    # duplicated span survives in any cleaned document. Removal is
    # positional, so juxtaposition at a cut boundary CAN textually
    # re-form an 8-token window that equals a dup span from some OTHER
    # document without violating the contract — restrict the check to
    # windows the same doc originally contained (all of those positions
    # were covered, so any per-doc recurrence means a real leak or an
    # implausible same-doc re-formation), keeping the test exact under
    # any future testdata regeneration.
    orig_spans = _span_hashes(docs, "text").distinct()
    survivors = (
        _span_hashes(cleaned, "cleaned_text")
        .join(dup, "h")
        .join(orig_spans, ["doc_id", "h"], "left_semi")
    )
    assert survivors.count() == 0

    # Accounting coherence: something was removed, and never more than
    # the document held.
    acc = cleaned.agg(
        F.sum("n_removed").alias("rm"),
        F.max(F.col("n_removed") > F.col("n_tokens")).alias("overcut"),
    ).first()
    assert acc["rm"] > 0
    assert not acc["overcut"]


def test_keep1_is_dominated_by_cut_all(spark):
    cut_all = q_text_strip_spans(spark, SF_SMOKE).select(
        "doc_id",
        F.col("n_tokens").alias("nt_a"),
        F.col("n_removed").alias("rm_a"),
    )
    keep1 = q_text_strip_spans_keep1(spark, SF_SMOKE).select(
        "doc_id",
        F.col("n_tokens").alias("nt_k"),
        F.col("n_removed").alias("rm_k"),
    )
    j = cut_all.join(keep1, "doc_id", "full")
    row = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.col("nt_a").isNull() | F.col("nt_k").isNull()).alias("miss"),
        F.max(F.col("nt_a") != F.col("nt_k")).alias("nt_diff"),
        # keep1 cuts only occ_rank>1 occurrences — a strict subset of the
        # positions cut-all covers — so per doc rm_k <= rm_a, always.
        F.max(F.col("rm_k") > F.col("rm_a")).alias("dominated_violated"),
        F.sum("rm_a").alias("sum_a"),
        F.sum("rm_k").alias("sum_k"),
    ).first()
    assert row["n"] > 0 and not row["miss"]
    assert not row["nt_diff"], "both flavors must report identical token counts"
    assert not row["dominated_violated"]
    # Corpus-wide the canonical occurrences keep1 preserves make it
    # strictly cheaper than cut-all (sf0.001 has dup spans per the test
    # above, so equality would mean the canonical copy was also cut).
    assert row["sum_k"] < row["sum_a"]


def test_dedup_exact_is_idempotent(spark, tmp_path):
    # sf0.001's 500 texts are all distinct, so inject ground truth: 50
    # byte-identical copies under fresh (larger) doc_ids.  The canonical
    # survivor must then be exactly the original 500-doc corpus.
    docs = load_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()
    clones = (
        docs.orderBy("doc_id")
        .limit(50)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    seeded_dir = _write_documents(docs.unionByName(clones), tmp_path / "seeded")

    groups = q_dedup_exact(spark, seeded_dir)
    first = groups.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("n_copies") == 2, 1).otherwise(0)).alias("pairs"),
        F.max("canonical_doc_id").alias("mx_canon"),
    ).first()
    n_groups = first["n"]
    assert n_groups == n_docs
    assert first["pairs"] == 50
    # min-doc_id canonical policy: every clone (id >= 1e6) loses.
    assert first["mx_canon"] < 1_000_000

    seeded = load_table(spark, seeded_dir, "documents")
    kept = seeded.join(
        groups.select(F.col("canonical_doc_id").alias("doc_id")), "doc_id"
    )
    rerun = q_dedup_exact(spark, _write_documents(kept, tmp_path / "rerun"))
    stats = rerun.agg(
        F.count(F.lit(1)).alias("n"), F.max("n_copies").alias("mx")
    ).first()
    # One group per surviving doc and no group with two members: a
    # second dedup pass is a no-op.
    assert stats["n"] == n_groups
    assert stats["mx"] == 1


def test_pack_is_a_partition_of_the_corpus(spark):
    """Sequence packing must PARTITION the corpus: every document lands
    in exactly one (source, bin), token mass is conserved exactly, and
    within a source the bins (ordered by bin index) span strictly
    increasing, non-overlapping doc_id ranges — the packing rule is a
    running offset over doc_id order, so any overlap means the window
    or the floor arithmetic broke."""
    from collections import defaultdict

    from copy_databasetables_spark.operators.pipeline import q_text_pack

    docs = load_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()
    n_tokens = docs.select(
        F.sum(F.size(F.split("text", " ")))
    ).first()[0]

    bins = q_text_pack(spark, SF_SMOKE)
    agg = bins.agg(
        F.sum("n_docs").alias("d"), F.sum("bin_tokens").alias("t")
    ).first()
    assert agg["d"] == n_docs
    assert agg["t"] == n_tokens

    by_src = defaultdict(list)
    for r in bins.orderBy("source", "bin").collect():
        by_src[r["source"]].append(r)
    for rs in by_src.values():
        assert all(r["first_doc"] <= r["last_doc"] for r in rs)
        for a, b in zip(rs, rs[1:]):
            assert a["last_doc"] < b["first_doc"]


def test_decontaminate_cleaned_corpus_reflags_nothing(spark, tmp_path):
    from copy_databasetables_spark.operators.pipeline import q_decontaminate

    flagged = q_decontaminate(spark, SF_SMOKE)
    n_contam = flagged.where(
        F.col("contaminated") & ~F.col("is_benchmark")
    ).count()
    assert n_contam > 0, "sf0.001 must contain contaminated docs"

    # Cleaned training corpus = the benchmark docs (kept so the re-run
    # derives the IDENTICAL benchmark set: bench = the N smallest
    # doc_ids, and every other kept doc has a larger id) + every
    # uncontaminated doc.
    keep_ids = flagged.where(
        F.col("is_benchmark") | ~F.col("contaminated")
    ).select("doc_id")
    docs = load_table(spark, SF_SMOKE, "documents")
    kept = docs.join(keep_ids, "doc_id")

    rerun = q_decontaminate(spark, _write_documents(kept, tmp_path))
    # Fixed point: only the benchmark members themselves may flag (they
    # share every gram with themselves); a flagged non-benchmark doc
    # means the gram overlap logic leaked through the first pass.
    assert rerun.where(
        F.col("contaminated") & ~F.col("is_benchmark")
    ).count() == 0
    # And the re-derived benchmark set must be the original one.
    a = flagged.where("is_benchmark").select("doc_id")
    b = rerun.where("is_benchmark").select("doc_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_lsh_survivor_corpus_has_zero_minhash_pairs(spark, tmp_path):
    """The LSH-chain analogue — and a real theorem about the banding:
    minhash signatures are per-document deterministic, so the candidate
    pairs of any SUB-corpus are a subset of the full corpus's candidate
    pairs restricted to surviving docs. Every original candidate that
    verified was co-clustered and lost a member to the survivor window;
    every surviving candidate pair therefore failed τ — so re-running
    the FULL minhash pipeline on the kept corpus must yield zero pairs,
    regardless of the banding's (measured, <100%) recall."""
    from copy_databasetables_spark.operators.dedup import (
        q_dedup_minhash,
        q_dedup_survivor_lsh,
    )

    surv = q_dedup_survivor_lsh(spark, SF_SMOKE)
    dropped = surv.where(~F.col("keep")).select("doc_id")
    assert dropped.count() > 0, "sf0.001 must contain LSH clusters"

    docs = load_table(spark, SF_SMOKE, "documents")
    kept = docs.join(dropped, "doc_id", "left_anti")
    pairs = q_dedup_minhash(spark, _write_documents(kept, tmp_path))
    assert pairs.count() == 0


def test_survivor_corpus_has_zero_verified_near_dup_pairs(spark, tmp_path):
    surv = q_dedup_survivor(spark, SF_SMOKE)
    dropped = surv.where(~F.col("keep")).select("doc_id")
    n_dropped = dropped.count()
    assert n_dropped > 0, "sf0.001 must contain near-dup clusters"

    docs = load_table(spark, SF_SMOKE, "documents")
    kept = docs.join(dropped, "doc_id", "left_anti")
    # CC labels partition the verified-pair graph; keeping one member
    # per component must leave NO pair with Jaccard >= tau — any
    # surviving pair means the clustering or the survivor window lost an
    # edge.
    pairs = q_dedup_near(spark, _write_documents(kept, tmp_path))
    assert pairs.count() == 0
