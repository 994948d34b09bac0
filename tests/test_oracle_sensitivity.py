"""Oracle-sensitivity (mutation) pins (r8): the DuckDB value-hash
oracles only gate semantics they can actually SEE. Each case below
mutates one semantic constant on the SPARK side only (the oracle SQL
strings bake the original value at import time) and asserts the gate's
own comparator goes red — proving the differential binds that
parameter rather than vacuously matching. Mutations that the sf0.001
data cannot distinguish (e.g. _SPAN_K 8→9: the duplicated runs are
long, so the covered-position set coincides; _NGRAM_TAU 0.60→0.55: no
pair's Jaccard falls in the gap) are deliberately NOT pinned — a
kill list must only contain kills, or a future legitimate refactor
drowns in false alarms. Both exclusions were re-probed at sf0.01
(r8 continuation) and sf0.1 (r9): no kill at ANY shipped SF, so the
insensitivity is a corpus property (duplicated runs much longer than
K; an empty τ band), not a small-SF artifact — and the two
seeded-fixture tests at the bottom of this file supply the kills the
shipped corpus cannot."""

from __future__ import annotations

import os
import sys

import pytest

_TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)
sys.path.insert(0, _TOOLS)

import check  # noqa: E402

from copy_databasetables_spark.operators import (  # noqa: E402
    all_oracles,
    all_queries,
)
from copy_databasetables_spark.operators import (  # noqa: E402
    _helpers,
    aggregates,
    analytics,
    dedup,
    joins,
    multimodal,
    pipeline,
    similarity,
    text,
    timeseries,
    tpch,
)
from tests.conftest import SF_SMOKE

#: (module, constant, mutated value, gated key) — every row verified to
#: KILL on sf0.001 when introduced.
MUTATIONS = [
    (dedup, "_EMBED_TAU", 0.41, "q_dedup_embed"),
    (dedup, "_JACCARD_TAU", 0.90, "q_dedup_near"),
    (dedup, "_EMB_BUCKET_CAP", 1, "q_dedup_embed_recall"),
    (dedup, "_N_BANDS", 2, "q_dedup_lsh_recall"),
    (_helpers, "_SPAN_K", 7, "q_dedup_substring"),
    # the shared verify step (dedup._verify) reads each threshold at call
    # time on the LSH paths too — verified to KILL on sf0.001 on entry:
    (dedup, "_JACCARD_TAU", 0.90, "q_dedup_minhash"),
    (dedup, "_EMBED_TAU", 0.41, "q_dedup_embed_lsh_scaled"),
    (similarity, "_IVF_K", 4, "q_sim_ivf"),
    (similarity, "_K", 4, "q_sim_topk"),
    (text, "_CASC_MIN_TOK", 25, "q_quality_cascade"),
    (text, "_CHUNK", 30, "q_text_chunk"),
    (text, "_FUZZY_D", 3, "q_text_fuzzy_match"),
    # r9 continuation ops — each verified to KILL on sf0.001 on entry:
    (aggregates, "_CMS_W", 4, "q_agg_cms_err"),  # 32 is data-insensitive at sf0.001 (15 keys rarely collide in all 4 rows)
    (similarity, "_PI_ITERS", 5, "q_emb_top_eigvec"),
    (text, "_PHRASE", ["table", "sort"], "q_text_phrase_search"),
    (joins, "_TDIM_T1", "2024-01-12 00:00:00", "q_join_temporal_dim"),
    # r11 TPC-H completion constants — each verified to KILL on sf0.001
    # on entry. Probed non-kills, deliberately NOT pinned (the kill-list
    # discipline above): _Q16_BRAND Brand#5->Brand#6 (no part of either
    # brand lands in the smoke size-list's surviving set),
    # _Q20_NAME_PREFIX blue->red (the single smoke-qualified supplier
    # qualifies under both prefixes), _Q21_LATE_DAYS 90->60 (Q21's
    # nation has NO supplier at sf0.001, so the result is empty either
    # way — the 3-SF entry checks bind lateness at sf0.01/0.1 where the
    # result is populated).
    (tpch, "_Q2_SIZE", 16, "q_tpch_q2"),
    (tpch, "_Q2_REGION", "ASIA", "q_tpch_q2"),
    (tpch, "_Q9_NAME", "blue", "q_tpch_q9"),
    (tpch, "_Q11_MULT", 2.0, "q_tpch_q11"),
    (tpch, "_Q11_NATION", "NATION_8", "q_tpch_q11"),
    (tpch, "_Q16_TYPE_PREFIX", "LARGE", "q_tpch_q16"),
    (tpch, "_Q16_SIZES", (3, 9, 14, 19, 23, 36, 45), "q_tpch_q16"),
    (tpch, "_Q20_NATION", "NATION_8", "q_tpch_q20"),
    (tpch, "_Q21_NATION", "NATION_8", "q_tpch_q21"),
    (pipeline, "_WSAMPLE_K", 19, "q_sample_weighted"),
    # r12 ops — each verified to KILL on sf0.001 on entry:
    (pipeline, "_RESERVOIR_N", 99, "q_sample_reservoir"),
    (aggregates, "_WINSOR_HI_PCT", 90, "q_agg_winsorize"),
    (joins, "_NEAREST_TOL_HOURS", 6, "q_join_asof_nearest"),
    (similarity, "_PQ_K", 8, "q_sim_ivf_pq"),
    (similarity, "_PQ_RERANK_R", 5, "q_sim_ivf_pq_rerank"),
    # r13 ops — each verified to KILL on sf0.001 on entry:
    (similarity, "_PQ_K", 8, "q_sim_ivf_pq_persisted"),
    (similarity, "_PCA_K", 3, "q_emb_pca_k"),
    (dedup, "_MINIMIZER_W", 6, "q_dedup_substring_minimizer"),
    (text, "_BM25_TOPN", 11, "q_text_bm25_persisted"),
    # r14 ops — each verified to KILL on sf0.001 on entry:
    (similarity, "_NPROBE", 3, "q_sim_ivf_pq_multiprobe"),
    (aggregates, "_CM_PROBES", 5, "q_agg_countmin"),
    (text, "_ENT_SCALE", 1_000, "q_text_entropy"),
    (multimodal, "_PHASH_TAU", 2, "q_multimodal_phash"),
    (text, "_LM2_K", 1.0, "q_text_lm_bigram"),
    (similarity, "_IVF_K", 4, "q_sim_ivf_recall"),
    (similarity, "_PSI_STEP", 0.1, "q_emb_drift_psi"),
    # r14 continuation 3 — verified to KILL on sf0.001 on entry:
    (similarity, "_BQ_RERANK_R", 5, "q_sim_binary_hamming"),
    (similarity, "_MRL_DIM", 16, "q_emb_mrl_recall"),
    (pipeline, "_EPOCH_GRAN", 100, "q_sample_epochs"),
    (text, "_PMI_MIN", 5, "q_text_collocations"),
    (multimodal, "_VAD_TAU", 900.0, "q_multimodal_wav_vad"),
    (timeseries, "_EWMA_ALPHA", 0.5, "q_ts_ewma"),
    (similarity, "_BQ_RERANK_R", 5, "q_sim_binary_recall"),
    # r15 hoists — verified to KILL on sf0.001 on entry:
    (analytics, "_ATTR_TOL_US", 3600 * 1000 * 1000,
     "q_events_attribution_tolerance"),
    # r15 ops — verified to KILL on sf0.001 on entry (4×16-bit blocks
    # collide on NOTHING at this corpus size: spark=0 vs oracle=50):
    (similarity, "_BQ_NBLOCKS", 4, "q_sim_binary_bucketed"),
    # a delta over the coarse-centroid ids violates the frozen-quantizer
    # premise (day-0-trained centroids ≠ current corpus's) — maintained
    # index diverges from the full-rebuild oracle on every probe
    (similarity, "_IDX_DELTA_FILTER", "vec_id % 50 = 7",
     "q_sim_ivf_pq_cdc"),
]


@pytest.fixture(scope="module")
def duck():
    con = check.duck_connect(SF_SMOKE)
    yield con
    con.close()


def _problems(spark, con, key):
    sdf = all_queries()[key](spark, SF_SMOKE).toPandas()
    ddf = con.execute(all_oracles()[key]).df()
    return check.compare(sdf, ddf)


@pytest.mark.parametrize(
    "mod, attr, mutated, key",
    MUTATIONS,
    ids=[f"{m[1]}->{m[3]}" for m in MUTATIONS],
)
def test_oracle_catches_semantic_constant_mutation(spark, duck, mod, attr,
                                                   mutated, key):
    assert _problems(spark, duck, key) == [], "baseline must be green"
    original = getattr(mod, attr)
    assert mutated != original
    setattr(mod, attr, mutated)
    try:
        assert _problems(spark, duck, key) != [], (
            f"oracle for {key} failed to notice {attr} {original}->{mutated}"
        )
    finally:
        setattr(mod, attr, original)


# --------------------------------------------------------------------------
# Seeded-fixture kills for the two constants the SHIPPED corpus cannot
# discriminate at any SF (re-probed sf0.001/sf0.01/sf0.1): _SPAN_K 8→9
# (the corpus's duplicated runs are all much longer than K, so the
# covered-position sets coincide) and _NGRAM_TAU 0.60→0.55 (no document
# pair's bigram Jaccard falls inside [0.55, 0.60)). Each test writes a
# documents.parquet engineered to land EXACTLY in the mutation's blind
# spot and runs the same Spark-vs-DuckDB comparator on it — converting
# "excluded because data-insensitive" into a real kill (VERDICT r8
# item 5).


def _write_fixture_documents(tmp_path, texts: list[str]) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(["fixture"] * len(texts), pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{sf_dir}/documents.parquet",
    )
    return sf_dir


def _fixture_problems(spark, sf_dir: str, key: str):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        sdf = all_queries()[key](spark, sf_dir).toPandas()
        ddf = con.execute(all_oracles()[key]).df()
        return check.compare(sdf, ddf)
    finally:
        con.close()


def test_strip_k_mutation_kills_on_seeded_fixture(spark, tmp_path):
    """Two docs share a duplicated run of EXACTLY 8 tokens (every other
    token unique to its doc). K=8 flags the run (one shared 8-gram per
    doc) and strips those positions — from both docs, or from the
    second only under keep-one; the K=9 mutant finds no shared 9-gram
    and strips nothing — outputs must diverge for both strip ops."""
    shared = " ".join(f"D{i}" for i in range(8))
    sf_dir = _write_fixture_documents(
        tmp_path,
        [f"a1 a2 {shared} b1 b2", f"c1 c2 {shared} e1 e2"],
    )
    keys = ("q_text_strip_spans", "q_text_strip_spans_keep1")
    for key in keys:
        assert _fixture_problems(spark, sf_dir, key) == [], key
    original = _helpers._SPAN_K
    _helpers._SPAN_K = 9
    try:
        for key in keys:
            assert _fixture_problems(spark, sf_dir, key) != [], (
                f"fixture failed to kill _SPAN_K 8->9 for {key}"
            )
    finally:
        _helpers._SPAN_K = original


def test_ngram_tau_mutation_kills_on_seeded_fixture(spark, tmp_path):
    """Two docs whose distinct-bigram sets are size 25 with overlap 18:
    Jaccard = 18/32 = 0.5625, strictly inside [0.55, 0.60). τ=0.60
    excludes the pair, the τ=0.55 mutant includes it — the pair list
    must diverge. Construction: 19 shared tokens (18 shared bigrams) +
    7 unique tail tokens per doc (the run→tail boundary bigram plus 6
    tail bigrams = 7 unique), all tokens distinct so every bigram is
    distinct. Doc 3 is a near-copy of doc 1 (J = 24/26 ≈ 0.92), so the
    baseline asserts a NON-empty agreeing pair list, not a vacuous
    empty-vs-empty match."""
    shared = " ".join(f"S{i}" for i in range(19))
    doc1 = f"{shared} " + " ".join(f"a{i}" for i in range(7))
    doc2 = f"{shared} " + " ".join(f"b{i}" for i in range(7))
    doc3 = f"{shared} " + " ".join(f"a{i}" for i in range(6)) + " c9"
    sf_dir = _write_fixture_documents(tmp_path, [doc1, doc2, doc3])
    assert all_queries()["q_dedup_ngram"](spark, sf_dir).count() == 1
    assert _fixture_problems(spark, sf_dir, "q_dedup_ngram") == []
    original = dedup._NGRAM_TAU
    dedup._NGRAM_TAU = 0.55
    try:
        assert _fixture_problems(spark, sf_dir, "q_dedup_ngram") != [], (
            "fixture failed to kill _NGRAM_TAU 0.60->0.55"
        )
    finally:
        dedup._NGRAM_TAU = original
