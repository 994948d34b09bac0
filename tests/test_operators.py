"""Per-operator unit tests with tiny inline DataFrames: the tricky
semantic corners that the sf0.01 differential can't isolate
(SURVEY.md §5.2 item 3, §7.3 items 5 and 7)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window


def test_asof_picks_latest_prior_with_tiebreak(spark):
    """As-of semantics on a handcrafted timeline: latest signup at or
    before each purchase; equal timestamps break toward larger event_id."""
    events = spark.createDataFrame(
        [
            # (event_id, user, ts, type)
            (1, 1, "2024-01-01 10:00:00", "signup"),
            (2, 1, "2024-01-01 11:00:00", "signup"),
            (3, 1, "2024-01-01 11:00:00", "purchase"),  # same-ts signup counts
            (4, 1, "2024-01-01 12:00:00", "purchase"),
            (5, 2, "2024-01-01 09:00:00", "purchase"),  # no prior signup
        ],
        "event_id long, user_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    p = events.where("event_type = 'purchase'").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("p_ts")
    )
    s = events.where("event_type = 'signup'").select(
        F.col("event_id").alias("sid"), F.col("user_id").alias("su"), F.col("ts").alias("s_ts")
    )
    w = Window.partitionBy("pid").orderBy(
        F.col("s_ts").desc_nulls_last(), F.col("sid").desc_nulls_last()
    )
    out = {
        r["pid"]: r["sid"]
        for r in p.join(s, (s.su == p.user_id) & (s.s_ts <= p.p_ts), "left")
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    assert out == {3: 2, 4: 2, 5: None}


def test_session_window_end_is_closed(spark):
    """An event at exactly last_ts + gap MERGES into the session (closed
    end — probed on Spark 4.1.2); one microsecond beyond starts a new
    one. This pins the strict-> convention the q_stream_session oracle
    uses in its gaps-and-islands rewrite."""
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (2, "2024-01-01 10:30:00"),          # exactly 30min later → merges
            (3, "2024-01-01 11:00:00.000001"),   # 1µs past the end → new
        ],
        "event_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("w.start")
        .collect()
    )
    assert [r["n"] for r in sessions] == [2, 1]


def test_jaccard_blocking_is_sound(spark):
    """Size-ratio blocking can never drop a pair with Jaccard ≥ 0.95:
    |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|) force the size ratio
    into [τ, 1/τ]. Construct a boundary pair and check it survives."""
    df = spark.createDataFrame(
        [(1, list("abcdefghijklmnopqrs")), (2, list("abcdefghijklmnopqrst"))],
        "doc_id long, toks array<string>",
    )
    a, b = df.collect()
    inter = len(set(a["toks"]) & set(b["toks"]))
    union = len(set(a["toks"]) | set(b["toks"]))
    jac = inter / union
    assert jac >= 0.95
    assert len(a["toks"]) * 100 >= len(b["toks"]) * 95
    assert len(b["toks"]) * 100 >= len(a["toks"]) * 95


def test_simhash_similar_docs_have_close_fingerprints(spark):
    from copy_databasetables_spark.operators.dedup import _SIMHASH, _TOKH

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog".split(" ")),
            (2, "the quick brown fox jumps over the lazy cat".split(" ")),
            (3, "completely different words appear in this line".split(" ")),
        ],
        "doc_id long, toks array<string>",
    ).withColumn("tokh", F.expr(_TOKH))
    fp = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", F.expr(_SIMHASH).alias("sh")).collect()
    }
    ham = lambda x, y: bin(x ^ y).count("1")  # noqa: E731
    assert ham(fp[1], fp[2]) < ham(fp[1], fp[3])


def test_minhash_lsh_recall_against_exact(spark):
    """LSH with 4×4 banding at τ=0.95 must find ≥95% of the exact
    near-dup pairs on the smoke data (expected detection ≈ 99.9%)."""
    from copy_databasetables_spark.operators import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    exact = {
        (r["doc_id_a"], r["doc_id_b"]) for r in qs["q_dedup_near"](spark, sf).collect()
    }
    lsh = {
        (r["doc_id_a"], r["doc_id_b"]) for r in qs["q_dedup_minhash"](spark, sf).collect()
    }
    assert lsh <= exact  # verification step guarantees no false positives
    if exact:
        assert len(lsh) / len(exact) >= 0.95


def test_lsh_recall_report_counts_are_consistent(spark):
    """The registered audit op must agree with its component ops: n_true
    = |q_dedup_near's pair set over md5 hashes|... since the two hash
    families (xxhash64 vs md5) induce identical Jaccard absent
    collisions, n_true equals q_dedup_near's row count; n_verified =
    q_dedup_minhash's; and the bp fields are the exact integer-division
    of those counts."""
    from copy_databasetables_spark.operators import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    row = qs["q_dedup_lsh_recall"](spark, sf).collect()[0]
    n_near = qs["q_dedup_near"](spark, sf).count()
    n_mh = qs["q_dedup_minhash"](spark, sf).count()
    assert row["n_true"] == n_near
    assert row["n_verified"] == n_mh
    assert row["n_missed"] == row["n_true"] - row["n_verified"]
    assert 0 <= row["n_missed"] <= row["n_true"]
    assert row["n_verified"] <= row["n_candidates"]
    assert row["recall_bp"] == (10000 * row["n_verified"]) // row["n_true"]
    assert (
        row["precision_bp"]
        == (10000 * row["n_verified"]) // row["n_candidates"]
    )


def test_lsh_recall_is_total_on_exact_clones(spark, tmp_path):
    """Identical texts share ALL minhashes, so every band collides and
    recall is structurally 10000 bp — pinned on a handcrafted corpus
    where the true pair set is known by construction (3 clones = 3
    pairs, plus unique docs contributing none)."""
    import os

    from copy_databasetables_spark.operators.dedup import q_dedup_lsh_recall

    clone = " ".join(f"w{i}" for i in range(40))
    docs = [
        (1, clone, "en", "s", 0),
        (2, clone, "en", "s", 0),
        (3, clone, "en", "s", 0),
        (4, " ".join(f"x{i}" for i in range(40)), "en", "s", 0),
        (5, " ".join(f"y{i}" for i in range(40)), "en", "s", 0),
    ]
    d = str(tmp_path / "corpus")
    os.makedirs(d)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    row = q_dedup_lsh_recall(spark, d).collect()[0]
    assert row["n_true"] == 3  # the clone triangle
    assert row["n_verified"] == 3
    assert row["n_missed"] == 0
    assert row["recall_bp"] == 10000


def test_embed_recall_is_total_on_identical_vectors(spark, tmp_path):
    """Identical vectors produce identical sign bits, so every band
    collides and the audit must report 10000 bp for both the plain and
    the capped leg on a corpus whose only true pairs are exact clones
    (distinct random-ish fillers stay below τ by construction)."""
    import os

    from copy_databasetables_spark.operators.dedup import (
        _RHP_DIM,
        q_dedup_embed_recall,
    )

    clone = [1.0] + [0.0] * (_RHP_DIM - 1)
    # fillers orthogonal to the clone AND to each other → cosine 0.
    rows = [(1, clone, 0), (2, clone, 0), (3, clone, 0)]
    for i in range(4, 10):
        v = [0.0] * _RHP_DIM
        v[i] = 1.0
        rows.append((i, v, 0))
    d = str(tmp_path / "corpus")
    os.makedirs(d)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{d}/embeddings.parquet")

    row = q_dedup_embed_recall(spark, d).collect()[0]
    assert row["n_true"] == 3  # the clone triangle
    assert row["n_verified_lsh"] == 3
    assert row["n_verified_capped"] == 3
    assert row["recall_bp_lsh"] == 10000
    assert row["recall_bp_capped"] == 10000


def test_cosine_self_similarity_and_symmetry(spark):
    from copy_databasetables_spark.operators._helpers import _cosine_pre

    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [1.0, 2.0, 3.0]), ([1.0, 0.0, 0.0], [0.0, 1.0, 0.0])],
        "a array<double>, b array<double>",
    ).select("a", "b", norm("a").alias("na"), norm("b").alias("nb"))
    rows = df.select(
        _cosine_pre("a", "a", "na", "na").alias("self"),
        _cosine_pre("a", "b", "na", "nb").alias("ab"),
        _cosine_pre("b", "a", "nb", "na").alias("ba"),
    ).collect()
    for r in rows:
        assert r["self"] == pytest.approx(1.0, abs=1e-12)
        assert r["ab"] == pytest.approx(r["ba"], abs=1e-12)


def test_approx_count_distinct_within_rsd(spark):
    from copy_databasetables_spark.io import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    exact = ev.select("user_id").distinct().count()
    approx = ev.agg(F.approx_count_distinct("user_id", rsd=0.02).alias("a")).collect()[0]["a"]
    assert abs(approx - exact) / exact < 0.1  # 5σ of rsd=0.02


def test_pivot_missing_combination_is_zero(spark):
    from copy_databasetables_spark.operators import all_queries

    df = all_queries()["q_pivot"](spark, "/root/testdata/sf0.001").toPandas()
    assert (df[["click", "error", "purchase", "signup", "view"]] >= 0).all().all()
    assert df.notna().all().all()  # na.fill(0) leaves no nulls


def test_percentile_approx_error_bound(spark):
    """The operator now computes its own error bound in-query (GK
    estimate must land between the exact percentiles at q∓0.01) and
    emits it as ``within_tol`` — the unit check asserts the verdict is
    TRUE for every group, and independently that the GK sketch tracks
    the exact p50/p95 within 1% relative at accuracy=10000."""
    from pyspark.sql import functions as F

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["q_agg_percentile_approx"](spark, sf).collect()
    assert len(rows) == 3
    assert all(r["within_tol"] for r in rows), rows

    both = (
        load_table(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000).alias("a"),
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
        )
        .collect()
    )
    for r in both:
        assert abs(r["a"][0] - r["p50"]) / r["p50"] < 0.01
        assert abs(r["a"][1] - r["p95"]) / r["p95"] < 0.01


def test_hash_split_is_stable_and_partitions(spark):
    """The train/val/test assignment must be a pure function of doc_id:
    identical across runs, and every doc lands in exactly one split."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    q = all_queries()["q_split_train_test"]
    a = {(r["split"], r["lang"]): r["n_docs"] for r in q(spark, sf).collect()}
    b = {(r["split"], r["lang"]): r["n_docs"] for r in q(spark, sf).collect()}
    assert a == b
    assert sum(a.values()) == 500


def test_blas_probe_pull_is_bounded(spark):
    """q_sim_topk_blas collects its probe set to the driver; that pull
    must be capped at _BLAS_MAX_PROBES rows (deterministic smallest
    vec_ids) so driver memory is O(cap·dim) regardless of corpus size."""
    from copy_databasetables_spark.operators.similarity import (
        _BLAS_MAX_PROBES,
        _bounded_probes,
        _vecs,
    )

    v = _vecs(spark, "/root/testdata/sf0.01")
    probes = _bounded_probes(v).collect()
    assert 0 < len(probes) <= _BLAS_MAX_PROBES
    # deterministic: the smallest qualifying vec_ids, in order
    ids = [r["vec_id"] for r in probes]
    assert ids == sorted(ids)


def test_ivf_centroid_set_is_bounded(spark):
    """The IVF coarse-centroid set must be a FIXED K rows, not a fraction
    of the corpus: its broadcast (and the O(n·K) assignment work) must
    stay constant as data grows. At sf0.01 (500 vectors) only 10 qualify;
    at sf0.1 (2000 vectors, 4x the corpus) the cap must hold the set at
    exactly _IVF_MAX_CENTROIDS — proving centroid count is constant
    w.r.t. corpus rows once the cap engages."""
    from copy_databasetables_spark.operators.similarity import (
        _IVF_MAX_CENTROIDS,
        _centroids,
        _vecs,
    )

    small = _centroids(_vecs(spark, "/root/testdata/sf0.01")).collect()
    large = _centroids(_vecs(spark, "/root/testdata/sf0.1")).collect()
    assert 0 < len(small) <= _IVF_MAX_CENTROIDS
    assert len(large) == _IVF_MAX_CENTROIDS  # 40 qualify, cap holds at 32
    # deterministic: the smallest qualifying vec_ids, in order
    ids = [r["cid"] for r in large]
    assert ids == sorted(ids)
    # the limit compiles to TakeOrdered — no global sort, no full pull
    plan = (
        _centroids(_vecs(spark, "/root/testdata/sf0.1"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_content_checksum_catches_compensating_corruption(spark):
    """The copy-verification checksum must not be fooled by two row
    edits whose hash deltas cancel additively: count+sum+bit_xor of the
    row hashes together make that implausible (bit_xor changes when any
    even-sum pair of hashes flips)."""
    from copy_databasetables_spark.copy.engine import content_checksum

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string"
    )
    same = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], "id long, s string"
    )
    corrupt = spark.createDataFrame(
        [(1, "a"), (2, "c"), (3, "b")], "id long, s string"  # swapped payloads
    )
    assert content_checksum(base) == content_checksum(same)  # order-insensitive
    assert content_checksum(base) != content_checksum(corrupt)


def test_salted_join_keys_include_salt(spark):
    """The salted join must actually join on (orderkey, salt) — the
    whole point is that a hot orderkey spreads across _SALT reducers."""
    from copy_databasetables_spark.operators import all_queries

    df = all_queries()["q_join_salted"](spark, "/root/testdata/sf0.001")
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "salt" in p  # salt participates in the join/partition keys


def test_capped_minhash_is_subset_of_uncapped(spark):
    """The hot-bucket cap only DROPS candidate pairs — every surviving
    pair must also be found (with identical jaccard) by the uncapped
    pipeline."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    capped = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in all_queries()["q_dedup_minhash_capped"](spark, sf).collect()
    }
    full = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in all_queries()["q_dedup_minhash"](spark, sf).collect()
    }
    assert capped <= full


def test_quantized_topk_recall_vs_exact(spark):
    """int8 quantization must preserve neighborhood structure: the
    quantized top-5 should overlap the exact top-5 heavily (64-dim
    vectors, ~0.8% max per-component error)."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.01"
    exact = {}
    for r in all_queries()["q_sim_topk"](spark, sf).collect():
        exact.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    quant = {}
    for r in all_queries()["q_sim_quantized"](spark, sf).collect():
        quant.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    assert set(quant) == set(exact)
    hits = sum(len(quant[p] & exact[p]) for p in exact)
    total = sum(len(exact[p]) for p in exact)
    assert hits / total >= 0.8, f"recall {hits}/{total} too low"


def test_decode_media_dispatch_is_real(spark):
    """Golden contract for decode_media (r10, post-stub): every kind
    decodes FOR REAL — a valid PGM/WAV payload parses, a malformed one
    raises ValueError from the byte parse (not NotImplementedError from
    a stub), an unknown kind raises ValueError, and the failure
    surfaces through the Spark mapInPandas plumbing rather than being
    swallowed into nulls."""
    import numpy as np
    import pytest as _pytest

    from copy_databasetables_spark.operators.multimodal import decode_media

    # text path: features computed directly
    feats = decode_media(b"hello world", "text")
    assert feats["byte_len"] == 11 and feats["first_byte"] == ord("h")

    # image path: a valid binary PGM decodes for real...
    pgm = b"P5\n4 2\n255\n" + bytes(range(8))
    feats = decode_media(pgm, "image")
    assert feats["kind"] == "image" and feats["byte_len"] == len(pgm)
    # ...and a non-PGM payload fails in the parser, not a stub
    with _pytest.raises(ValueError, match="not a binary PGM"):
        decode_media(b"\x89PNG", "image")

    # audio path: a valid RIFF/PCM WAV decodes for real
    import struct

    data = np.arange(-4, 4, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    feats = decode_media(wav, "audio")
    assert feats["kind"] == "audio"
    with _pytest.raises(ValueError, match="not a RIFF/WAVE"):
        decode_media(b"RIFF", "audio")

    with _pytest.raises(ValueError, match="unknown media kind"):
        decode_media(b"x", "video")

    # through Spark: a malformed image payload in a mapInPandas batch
    # must fail the job with the parser's error, not yield a null row
    import pandas as pd

    def extract(batches):
        for pdf in batches:
            rows = [decode_media(p, k) for p, k in zip(pdf["payload"], pdf["kind"])]
            out = pd.DataFrame(rows)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG"), "image")], "doc_id long, payload binary, kind string"
    ).mapInPandas(
        extract,
        schema="doc_id long, byte_len int, first_byte int, head_digest string, kind string",
    )
    with _pytest.raises(Exception, match="not a binary PGM"):
        df.collect()


def test_sessionize_gap_invariants(spark):
    """Within a session every consecutive gap is <= 30 min; the first
    event of session k+1 is > 30 min after the last event of session k
    — checked per user against the raw event stream."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    out = all_queries()["q_sessionize"](spark, sf).collect()
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    gap = 1_800_000_000
    for sessions in by_user.values():
        sessions.sort(key=lambda r: r["session_idx"])
        for a, b in zip(sessions, sessions[1:]):
            assert b["session_idx"] == a["session_idx"] + 1
            assert b["start_us"] - a["end_us"] > gap
        for s in sessions:
            assert s["start_us"] <= s["end_us"]
            # a session of n events spans at most (n-1) max-gaps
            assert s["end_us"] - s["start_us"] <= (s["n_events"] - 1) * gap


def test_retention_day_zero_is_total(spark):
    """Every user is active on their own cohort day, so day_offset=0
    retention is exactly 1.0 for every cohort; offsets are >= 0 and
    retained fractions never exceed 1."""
    from copy_databasetables_spark.operators import all_queries

    rows = all_queries()["q_retention"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["day_offset"] >= 0
        assert 0.0 < r["retention"] <= 1.0
        if r["day_offset"] == 0:
            assert r["retention"] == 1.0


def test_funnel_is_strictly_ordered(spark):
    """Funnel timestamps are strictly increasing where present, and the
    stage count equals 1 + the number of completed later stages."""
    from copy_databasetables_spark.operators import all_queries

    rows = all_queries()["q_funnel"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        stage = 1
        if r["click_us"] is not None:
            assert r["click_us"] > r["view_us"]
            stage += 1
        if r["purchase_us"] is not None:
            assert r["click_us"] is not None
            assert r["purchase_us"] > r["click_us"]
            stage += 1
        assert r["stage"] == stage


def test_chunking_covers_every_token(spark):
    """(n_chunks-1)*stride + len(last chunk) == n_tokens — i.e. the
    last chunk ends exactly at the document's end, so the sliding
    window covers every token; all non-final chunks are full-width."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    chunks = all_queries()["q_text_chunk"](spark, sf).collect()
    n_tokens = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(n_tokens)
    for doc_id, cs in by_doc.items():
        cs.sort(key=lambda r: r["chunk_idx"])
        assert [c["chunk_idx"] for c in cs] == list(range(len(cs)))
        for c in cs[:-1]:
            assert c["n_tokens"] == 32
        assert (len(cs) - 1) * 24 + cs[-1]["n_tokens"] == n_tokens[doc_id]


def test_cluster_ids_are_min_member_and_cover_pairs(spark):
    """q_dedup_cluster: cluster_id is the minimum member doc_id, sizes
    match membership, and both endpoints of every near-dup pair land in
    the same cluster (transitive closure actually closed)."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["q_dedup_cluster"](spark, sf).collect()
    by_cluster: dict[int, set] = {}
    label = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["doc_id"])
        label[r["doc_id"]] = r["cluster_id"]
        assert r["cluster_id"] <= r["doc_id"]
    for cid, members in by_cluster.items():
        assert cid == min(members)
    sizes = {r["cluster_id"]: r["n_members"] for r in rows}
    for cid, members in by_cluster.items():
        assert sizes[cid] == len(members)
    pairs = all_queries()["q_dedup_near"](spark, sf).collect()
    for p in pairs:
        assert label[p["doc_id_a"]] == label[p["doc_id_b"]]


def _sym_path_edges(spark, n: int):
    """Symmetric edge list of an n-node path graph 0-1-2-…-(n-1) —
    the worst-case diameter for label propagation."""
    from pyspark.sql import functions as F

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    return chain.unionByName(
        chain.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def test_cluster_long_chain_converges_logarithmically(spark):
    """Pointer jumping makes a 61-node path (diameter 60 — would need
    60 rounds of plain propagation, past the old guard) converge in
    ≤10 probes to a single cluster labeled by the min vertex. This IS
    the pathological-chain case the 50-round guard existed for; the
    shortcut turns the guard into a ~2^50-diameter bound."""
    from copy_databasetables_spark.operators.dedup import (
        _min_label_propagate,
    )

    rows = _min_label_propagate(_sym_path_edges(spark, 61), parts=1).collect()
    assert len(rows) == 61
    assert all(r["label"] == 0 for r in rows)


def test_cluster_guard_raises_when_probes_exhausted(spark):
    """The non-convergence guard actually fires: cap probes below what
    the chain needs and the RuntimeError surfaces instead of a silent
    wrong fixpoint."""
    import pytest

    from copy_databasetables_spark.operators.dedup import (
        _min_label_propagate,
    )

    with pytest.raises(RuntimeError, match="did not converge"):
        _min_label_propagate(
            _sym_path_edges(spark, 61), parts=1, max_probes=3
        )


def _uf_min_labels(pairs) -> dict[int, int]:
    """Reference connected components: a plain dict union-find over the
    pair list, each vertex labeled by its component's minimum."""
    parent: dict[int, int] = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _cc_cases():
    """Named pair graphs: seeded random graphs over sparse non-contiguous
    ids (sparse and dense, both orientations, repeated pairs), a
    200-node path, a star, and disjoint components."""
    import random

    cases = {}
    for seed, n, m in [(1, 50, 30), (2, 50, 400), (3, 400, 300),
                       (4, 2000, 1200), (5, 2000, 6000)]:
        rng = random.Random(seed)
        ids = rng.sample(range(10**12), n)
        cases[f"random_{n}v_{m}e"] = [
            tuple(rng.sample(ids, 2)) for _ in range(m)
        ]
    cases["path_200"] = [(i, i + 1) for i in range(199)]
    cases["star"] = [(7, v) for v in range(100, 160)] + [(155, 3)]
    cases["disjoint"] = [
        (base + i, base + i + 1) for base in (0, 1000, 5000) for i in range(5)
    ] + [(9000, 9001)]
    return cases


def test_local_contract_keeps_connectivity():
    """``_local_contract`` and ``_local_components`` alone (plain pandas,
    no Spark): the star edges are symmetric, cover every input vertex
    and label with the same components as the input; the components
    are the reference labels with their sizes; an empty partition emits
    nothing from either."""
    from collections import Counter

    import pandas as pd

    from copy_databasetables_spark.operators.dedup import (
        _local_components,
        _local_contract,
    )

    empty = pd.DataFrame({"doc_id_a": [], "doc_id_b": []}, dtype="int64")
    for body in (_local_contract, _local_components):
        assert list(body(iter([]))) == []
        assert list(body(iter([empty]))) == []
    for name, pairs in _cc_cases().items():
        half = len(pairs) // 2
        batches = [
            pd.DataFrame(ps, columns=["doc_id_a", "doc_id_b"], dtype="int64")
            for ps in (pairs[:half], pairs[half:])
        ]
        out = pd.concat(list(_local_contract(iter(batches))))
        star = list(zip(out["src"].tolist(), out["dst"].tolist()))
        assert set(star) == {(d, s) for s, d in star}, name
        ref = _uf_min_labels(pairs)
        assert _uf_min_labels(star) == ref, name
        (comp,) = _local_components(iter(batches))
        sizes = Counter(ref.values())
        assert {
            (d, c, n) for d, c, n in comp.itertuples(index=False)
        } == {(d, c, sizes[c]) for d, c in ref.items()}, name


def test_cluster_over_pairs_matches_union_find(spark, monkeypatch):
    """``_cluster_over_pairs`` labels every vertex of every case with the
    reference union-find's component minimum, with matching cluster
    sizes — on both paths: the one-pass ``_local_components`` at one
    partition, and contraction + ``_min_label_propagate`` when
    ``_pair_parts`` asks for 3 (the sparse 2000-vertex graph is left to
    the one-pass path, as in the test below)."""
    from collections import Counter

    from copy_databasetables_spark.operators import dedup

    for parts in (1, 3):
        monkeypatch.setattr(dedup, "_pair_parts", lambda spark, n, p=parts: p)
        for name, pairs in _cc_cases().items():
            if parts > 1 and name == "random_2000v_1200e":
                continue
            ref = _uf_min_labels(pairs)
            df = spark.createDataFrame(pairs, "doc_id_a long, doc_id_b long")
            rows = dedup._cluster_over_pairs(spark, df).collect()
            got = {r["doc_id"]: r["cluster_id"] for r in rows}
            assert got == ref, (parts, name)
            sizes = Counter(ref.values())
            assert all(
                r["n_members"] == sizes[r["cluster_id"]] for r in rows
            ), (parts, name)


@pytest.mark.parametrize("parts", [3, 8])
def test_contracted_partitions_converge_to_union_find(spark, parts):
    """The ``parts > 1`` path: pairs scattered round-robin over 3 or 8
    partitions, each contracted on its own, then joined up by
    ``_min_label_propagate`` — still the reference labels. The sparse
    2000-vertex graph is left to the single-partition test: its giant
    component has long random-id paths, on which the probe loop needs
    20+ rounds with or without contraction (ROADMAP item 4)."""
    from copy_databasetables_spark.operators.dedup import (
        _local_contract,
        _min_label_propagate,
    )

    for name, pairs in _cc_cases().items():
        if name == "random_2000v_1200e":
            continue
        edges = (
            spark.createDataFrame(pairs, "doc_id_a long, doc_id_b long")
            .repartition(parts)
            .mapInPandas(_local_contract, "src long, dst long")
        )
        rows = _min_label_propagate(edges, parts).collect()
        assert {r["doc_id"]: r["label"] for r in rows} == _uf_min_labels(pairs), name


def _build_jobs(spark, key: str) -> int:
    """Spark jobs one call of query ``key`` runs before it returns its
    DataFrame (sf0.001; the fixture's local[8], default partitions)."""
    from copy_databasetables_spark.operators import all_queries
    from tests.conftest import SF_SMOKE

    sc = spark.sparkContext
    group = f"test_build_jobs_{key}"
    sc.setJobGroup(group, f"{key} build")
    try:
        all_queries()[key](spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


_DEDUP_BUILD_JOBS = [
    ("q_dedup_cluster", 4),
    ("q_dedup_cluster_lsh", 7),
    ("q_dedup_survivor_pagerank", 8),
    ("q_dedup_minhash_est", 2),
    ("q_dedup_incremental", 2),
]


@pytest.mark.parametrize(
    "key, bound", _DEDUP_BUILD_JOBS, ids=[k for k, _ in _DEDUP_BUILD_JOBS]
)
def test_dedup_build_job_count(spark, key, bound):
    """Eager jobs a dedup build runs before it returns, pinned at the
    measured count + 1. Below 250k pairs CC runs no job of its own: the
    pair checkpoint (its count observed on that job) is the last, and
    the union-find is a lazy pass over it. ``q_dedup_cluster`` ran
    39–41 jobs with the min-label loop on the raw pairs, 13–14 with
    contraction and a verifying probe, 3 now. Measured over six builds
    each: cluster_lsh 6, survivor_pagerank 7, minhash_est and
    incremental 1 (the shuffle below the token-hash checkpoint, which
    AQE runs when that checkpoint is planned)."""
    assert 1 <= _build_jobs(spark, key) <= bound


def test_survivor_runs_no_more_build_jobs_than_cluster(spark):
    """The survivor pick adds no eager job to CC: its broadcast choice
    comes from the pair count the pair checkpoint observed, not from a
    count of the clusters, which on the one-pass path re-ran the whole
    union-find (4 jobs against ``q_dedup_cluster``'s 3)."""
    assert _build_jobs(spark, "q_dedup_survivor") <= _build_jobs(
        spark, "q_dedup_cluster"
    )


@pytest.mark.parametrize("stale", ["tf_as_int", "df_missing"])
def test_bm25_query_leg_rejects_stale_index(spark, tmp_path, stale):
    """An index whose postings were written with another schema — ``tf``
    as int, or without ``df`` — raises in the query leg instead of
    widening ``tf`` or scoring a missing ``df`` as NULL."""
    from copy_databasetables_spark.operators.text import _bm25_query_leg

    cols = {
        "tf_as_int": "term, doc_id, cast(tf as int) as tf, dl, df",
        "df_missing": "term, doc_id, tf, dl",
    }[stale]
    spark.sql(
        "select 'hash' as term, 1L as doc_id, 2L as tf, 7 as dl, 1L as df"
    ).selectExpr(*cols.split(", ")).write.parquet(f"{tmp_path}/postings")
    spark.sql("select 1L as n_docs, 7d as avgdl").write.parquet(
        f"{tmp_path}/stats"
    )
    with pytest.raises(ValueError, match="written as"):
        _bm25_query_leg(spark, str(tmp_path)).collect()


def test_bm25_persisted_build_job_count(spark):
    """The BM25 index is written in one pass (postings with df, one
    shuffle, corpus stats observed on that write, stats from literals),
    and the query leg reads both artifacts with their written schemas,
    so no inference job runs. A ``q_text_bm25_persisted`` build ran 12
    Spark jobs with three corpus-derived sinks, 5 with inferred reads,
    and runs 3 now."""
    assert 1 <= _build_jobs(spark, "q_text_bm25_persisted") <= 4


def test_ivf_pq_persisted_build_job_count(spark):
    """The IVF-PQ index's read-back (assign cells, codes, codebook) runs
    no schema-inference job: a ``q_sim_ivf_pq_persisted`` build ran 19
    Spark jobs with inferred reads and runs 16 now."""
    assert 1 <= _build_jobs(spark, "q_sim_ivf_pq_persisted") <= 17


@pytest.mark.parametrize("exchange", [False, True])
def test_observation_on_eager_checkpoint(spark, exchange):
    """An ``Observation`` at the top of ``ckpt(df.observe(...),
    eager=True)`` holds its values when ``ckpt`` returns, equal to the
    collected aggregate — with and without an exchange below the
    observed node. CC sizing and convergence (``ckpt_observed``) rest
    on this; ``Observation.get`` blocks until the metrics arrive, so it
    runs in a daemon thread: a Spark that stops reporting metrics for
    ``localCheckpoint`` fails here instead of hanging the CC loop."""
    import threading

    from pyspark.sql import Observation

    from copy_databasetables_spark.operators._helpers import (
        ckpt,
        ckpt_observed,
    )

    df = spark.range(0, 5000, 1, 4).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("v")
    )
    if exchange:
        df = df.groupBy("k").agg(F.sum("v").alias("v"))
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")]
    seen = Observation()
    ckpt(df.observe(seen, *aggs), eager=True)
    got = {}
    t = threading.Thread(target=lambda: got.update(seen.get), daemon=True)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "no metrics for an eager localCheckpoint"
    want = df.agg(*aggs).first().asDict()
    assert got == want
    out, s = ckpt_observed(df, F.sum("v"))
    assert s == want["s"] and out.count() == want["n"]


def test_survivor_one_keep_per_cluster_and_is_best(spark):
    """q_dedup_survivor: exactly ONE keep per cluster, and the kept doc
    has the cluster's max n_chars (min doc_id on ties)."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["q_dedup_survivor"](spark, sf).collect()
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf, "documents").select("doc_id", "n_chars").collect()
    }
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert by_cluster, "no clusters at sf0.001?"
    for cid, members in by_cluster.items():
        keeps = [r for r in members if r["keep"]]
        assert len(keeps) == 1, (cid, keeps)
        best = min(members, key=lambda r: (-chars[r["doc_id"]], r["doc_id"]))
        assert keeps[0]["doc_id"] == best["doc_id"]
        assert all(r["n_members"] == len(members) for r in members)


def test_embed_lsh_pairs_subset_of_exact(spark):
    """q_dedup_embed_lsh returns a SUBSET of q_dedup_embed's exact
    all-pairs output (LSH prunes candidates, never invents pairs), with
    identical cosine values on the shared pairs."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    exact = {
        (r["vec_id_a"], r["vec_id_b"]): r["cosine"]
        for r in all_queries()["q_dedup_embed"](spark, sf).collect()
    }
    lsh = all_queries()["q_dedup_embed_lsh"](spark, sf).collect()
    assert lsh, "LSH found no pairs at sf0.001 — banding broken?"
    for r in lsh:
        key = (r["vec_id_a"], r["vec_id_b"])
        assert key in exact, f"LSH invented pair {key}"
        assert r["cosine"] == exact[key]


def test_incremental_dedup_attribution(spark):
    """Every batch doc appears exactly once; duplicates point at an
    INDEX doc with verified jaccard >= tau, survivors carry nulls."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["q_dedup_incremental"](spark, sf).collect()
    batch = {
        r["doc_id"]
        for r in load_table(spark, sf, "documents")
        .where("doc_id % 10 = 7")
        .select("doc_id")
        .collect()
    }
    assert {r["doc_id"] for r in rows} == batch and len(rows) == len(batch)
    assert any(r["status"] == "dup" for r in rows)
    for r in rows:
        if r["status"] == "dup":
            assert r["match_doc_id"] % 10 != 7
            assert r["jaccard"] >= 0.95
        else:
            assert r["match_doc_id"] is None and r["jaccard"] is None


def test_emb_outlier_output_is_label_bounded(spark):
    """Output is exactly top-3 rows per label — constant in corpus
    size — with non-negative distances and dense ranks 1..3."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["q_emb_outlier"](spark, sf).collect()
    n_labels = load_table(spark, sf, "embeddings").select("label").distinct().count()
    assert len(rows) == 3 * n_labels
    by_label: dict[int, list] = {}
    for r in rows:
        assert r["dist"] >= 0.0
        by_label.setdefault(r["label"], []).append(r)
    for rs in by_label.values():
        rs.sort(key=lambda r: r["rank_pos"])
        assert [r["rank_pos"] for r in rs] == [1, 2, 3]
        assert rs[0]["dist"] >= rs[1]["dist"] >= rs[2]["dist"]


def test_decontaminate_benchmark_self_hit_and_bounded_bench(spark):
    """Every benchmark doc shares its own grams, so it must be flagged
    contaminated; the benchmark set itself is a FIXED size (a constant
    broadcast at any corpus scale), and clean docs report zero hits."""
    from copy_databasetables_spark.operators.pipeline import (
        _BENCH_DOCS,
        q_decontaminate,
    )

    rows = q_decontaminate(spark, "/root/testdata/sf0.01").collect()
    bench = [r for r in rows if r["is_benchmark"]]
    assert len(bench) == _BENCH_DOCS
    assert all(r["contaminated"] and r["n_hit_grams"] > 0 for r in bench)
    clean = [r for r in rows if not r["contaminated"]]
    assert all(r["n_hit_grams"] == 0 for r in clean)


def test_domain_quota_cap_holds(spark):
    """No source exceeds the quota, and within a source the kept docs are
    the longest ones ranked deterministically (n_chars DESC, doc_id ASC)."""
    from collections import Counter

    from copy_databasetables_spark.operators.pipeline import (
        _QUOTA,
        q_domain_quota,
    )

    rows = q_domain_quota(spark, "/root/testdata/sf0.01").collect()
    per_src = Counter(r["source"] for r in rows)
    assert all(n <= _QUOTA for n in per_src.values())
    for src in per_src:
        ranked = sorted(
            (r for r in rows if r["source"] == src), key=lambda r: r["rk"]
        )
        keys = [(-r["n_chars"], r["doc_id"]) for r in ranked]
        assert keys == sorted(keys)


def test_pii_redact_scrubs_everything(spark):
    """After redaction no email or phone pattern survives, and every doc
    counted at least the one synthetic email + phone that was injected."""
    import re

    from copy_databasetables_spark.operators.pipeline import (
        _EMAIL_RE,
        _PHONE_RE,
        q_pii_redact,
    )

    rows = q_pii_redact(spark, "/root/testdata/sf0.001").collect()
    email, phone = re.compile(_EMAIL_RE), re.compile(_PHONE_RE)
    for r in rows:
        assert r["n_emails"] >= 1 and r["n_phones"] >= 1
        assert not email.search(r["redacted"])
        assert not phone.search(r["redacted"])


def test_incremental_agg_equals_full_recompute(spark):
    """The mergeability claim itself: base-snapshot ⊎ delta-batch
    re-aggregation must equal aggregating the full history in one pass —
    bit-for-bit, because money accumulates in exact cents."""
    from pyspark.sql import functions as F

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.aggregates import (
        q_agg_incremental,
    )

    inc = {
        (r["o_custkey"], r["n_orders"], r["total_spent"])
        for r in q_agg_incremental(spark, "/root/testdata/sf0.001").collect()
    }
    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    full = {
        (r["o_custkey"], r["n_orders"], r["total_spent"])
        for r in o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "bigint"
                    )
                ).cast("double")
                / 100,
                2,
            ).alias("total_spent"),
        )
        .collect()
    }
    assert inc == full


def test_heavy_hitters_threshold_is_exact(spark):
    """Every reported key exceeds 1/_HH_DENOM of total rows, and no
    qualifying key is missed (cross-checked against a driver-side count
    on the small fixture)."""
    from collections import Counter

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.aggregates import (
        _HH_DENOM,
        q_agg_heavy_hitters,
    )

    rows = q_agg_heavy_hitters(spark, "/root/testdata/sf0.001").collect()
    got = {r["key"]: r["n"] for r in rows}
    o = load_table(spark, "/root/testdata/sf0.001", "orders").collect()
    counts = Counter(r["o_custkey"] for r in o)
    total = sum(counts.values())
    expect = {k: n for k, n in counts.items() if n * _HH_DENOM > total}
    assert got == expect


def test_heavy_hitters_skewed_fires(spark):
    """Positive-path evidence for the detector: on the deliberately
    skewed key (~90% of rows remapped onto key 1) the detector MUST
    report a non-empty set containing the hot key, cross-checked
    against a driver-side count whose expected set is non-empty."""
    from collections import Counter

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.aggregates import (
        _HH_DENOM,
        q_agg_heavy_hitters_skewed,
    )

    rows = q_agg_heavy_hitters_skewed(
        spark, "/root/testdata/sf0.001"
    ).collect()
    got = {r["key"]: r["n"] for r in rows}
    o = load_table(spark, "/root/testdata/sf0.001", "orders").collect()
    counts = Counter(
        1 if r["o_orderkey"] % 10 < 9 else r["o_custkey"] for r in o
    )
    total = sum(counts.values())
    expect = {k: n for k, n in counts.items() if n * _HH_DENOM > total}
    assert expect, "skew synthesis must produce a qualifying key"
    assert got == expect
    assert 1 in got  # the hot key itself is detected
    # and its reported share is ~90% (9000 basis points, FLOOR'd)
    frac = {r["key"]: r["frac_bp"] for r in rows}[1]
    assert 8500 <= frac <= 9500


def test_ivf_multiprobe_recall_dominates_single_probe(spark):
    """nprobe=2 candidates are a strict superset of nprobe=1's, so
    recall against the EXACT top-k (q_sim_topk's brute force) must be
    monotonically ≥ — the property that makes nprobe the recall lever."""
    from copy_databasetables_spark.operators.similarity import (
        q_sim_ivf,
        q_sim_ivf_multiprobe,
        q_sim_topk,
    )

    sf = "/root/testdata/sf0.01"
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in q_sim_topk(spark, sf).collect()
    }
    one = {
        (r["probe_id"], r["neighbor_id"])
        for r in q_sim_ivf(spark, sf).collect()
    }
    multi = {
        (r["probe_id"], r["neighbor_id"])
        for r in q_sim_ivf_multiprobe(spark, sf).collect()
    }
    # q_sim_topk returns _K=5 per probe, IVF _IVF_K=3 — compare on hits
    r1 = len(one & exact)
    r2 = len(multi & exact)
    assert r2 >= r1


def test_pq_topk_recall_and_bounded_codebook(spark):
    """PQ (16 subspaces × 4 dims, 16 codewords) must beat the ~1%
    random-guess recall floor by an order of magnitude even on i.i.d.
    random vectors — PQ's worst case (measured ~0.26 here; real
    embedding manifolds do far better). Probe set must match the exact
    operator's, and every decoded rank list is the full top-5."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.01"
    exact = {}
    for r in all_queries()["q_sim_topk"](spark, sf).collect():
        exact.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    pq = {}
    for r in all_queries()["q_sim_pq"](spark, sf).collect():
        pq.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    assert set(pq) == set(exact)
    assert all(len(v) == 5 for v in pq.values())
    hits = sum(len(pq[p] & exact[p]) for p in exact)
    total = sum(len(exact[p]) for p in exact)
    assert hits / total >= 0.15, f"recall {hits}/{total} below floor"


def test_pq_codebook_is_fixed_size(spark):
    """The PQ codebook (the broadcast side of the encode join) is
    filter → ORDER BY → LIMIT bounded: exactly _PQ_K codewords per
    subspace regardless of corpus size — same contract as the IVF
    centroid cap."""
    from copy_databasetables_spark.operators import similarity as sim
    from copy_databasetables_spark.io import load_table

    for sf in ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]:
        v = sim._vecs(spark, sf)
        n_cb = v.where(sim._PQ_CB_FILTER).limit(sim._PQ_K).count()
        assert n_cb <= sim._PQ_K
        assert n_cb >= 7  # sf0.001's 50-vector table still yields ≥7


def test_bloom_decontaminate_sound_and_python_free(spark):
    """The bloom variant's two in-query verdicts must hold (no false
    negatives; measured per-doc FP rate under the sizing bound), its
    exact hit counts must equal q_decontaminate's, and the whole plan
    must stay JVM-side (the bloom is SQL expressions, not a UDF)."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.01"
    df = all_queries()["q_decontaminate_bloom"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEvalPython" not in plan
    rows = df.collect()
    assert all(r["bloom_sound"] for r in rows)
    assert all(r["fp_within_bound"] for r in rows)
    exact = {
        r["doc_id"]: r["n_hit_grams"]
        for r in all_queries()["q_decontaminate"](spark, sf).collect()
    }
    assert {r["doc_id"]: r["n_hit_grams"] for r in rows} == exact


def test_heavy_hitters_pruned_equals_exact(spark):
    """Candidate pruning must be lossless: the two-round pruned result
    equals a direct exact count+threshold over the same key (all 50
    l_quantity values, each ~2% > 1/64)."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.io import load_table

    sf = "/root/testdata/sf0.01"
    got = {
        (r["key"], r["n"], r["frac_bp"])
        for r in all_queries()["q_agg_heavy_hitters_pruned"](spark, sf).collect()
    }
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("key")
    )
    total = li.count()
    want = {
        (r["key"], r["n"], 10000 * r["n"] // total)
        for r in li.groupBy("key").count().withColumnRenamed("count", "n").collect()
        if r["n"] * 64 > total
    }
    assert got == want
    assert len(got) == 50  # every quantity 1..50 is a heavy hitter


def test_zorder_write_clusters_both_dimensions(spark):
    """The z-ordered layout must narrow per-file min/max ranges on BOTH
    interleaved keys simultaneously (measured ~0.59 and ~0.34 of the
    global range with 8 files) — a single-column sort would leave the
    other dimension's per-file range at ~1.0, which is the failure this
    test rejects at 0.8."""
    import glob

    import pyarrow.parquet as pq
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    all_queries()["snk_zorder_write"](spark, sf).count()
    files = glob.glob(
        "/tmp/spark_graft_io/snk_zorder_write/sf0.001/orders/part-*.parquet"
    )
    assert len(files) == 8
    for col in ["o_custkey", "o_orderdate"]:
        lo, hi, ranges = None, None, []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = [
                md.schema.column(i).name for i in range(md.num_columns)
            ].index(col)
            mn = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            mx = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            ranges.append((mn, mx))
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)

        def _span(a, b):
            d = b - a
            return d.total_seconds() if hasattr(d, "total_seconds") else d

        mean_r = sum(_span(a, b) for a, b in ranges) / len(ranges)
        frac = mean_r / _span(lo, hi)
        assert frac < 0.8, f"{col} per-file range {frac:.2f} not clustered"


def test_bloom_prune_join_removes_nonmatching_fact_rows(spark):
    """The bloom runtime filter must cut the fact stream to the true
    matching rows plus a sub-percent FP margin BEFORE the join shuffle —
    and the filtered stream must still contain every matching row (no
    false negatives, or the hash gate would already have caught it)."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import joins as j
    from copy_databasetables_spark.operators._helpers import (
        bloom_build,
        bloom_might_contain_sql,
    )

    sf = "/root/testdata/sf0.01"
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    bloom = bloom_build(o.select("o_orderkey"), "o_orderkey", j._JB_BITS, j._JB_K)
    pruned = li.crossJoin(F.broadcast(bloom)).where(
        F.expr(bloom_might_contain_sql("l_orderkey", j._JB_BITS, j._JB_K))
    )
    n_total = li.count()
    n_pruned = pruned.count()
    n_match = li.join(o, li.l_orderkey == o.o_orderkey, "left_semi").count()
    assert n_match <= n_pruned <= n_match + int(0.01 * n_total) + 1
    assert n_pruned < 0.3 * n_total  # ~80% of the shuffle input is gone


def test_events_anomaly_flag_matches_float_z_and_min_history(spark):
    """The exact-int64 anomaly predicate must agree with the float z
    everywhere away from the knife edge (flagged → z ≥ 2.99, unflagged
    with history → z ≤ 3.01), must fire on this data (positive path),
    and must never flag inside the warm-up window."""
    from copy_databasetables_spark.operators import all_queries

    rows = (
        all_queries()["q_events_anomaly"](spark, "/root/testdata/sf0.01")
        .orderBy("hour_us")
        .collect()
    )
    assert sum(r["is_anomaly"] for r in rows) >= 1
    for r in rows[:12]:  # warm-up: fewer than _ANOM_MIN_HISTORY trailing
        assert not r["is_anomaly"]
    for r in rows:
        if r["is_anomaly"]:
            assert r["z"] is not None and r["z"] >= 2.99
        elif r["z"] is not None:
            assert r["z"] <= 3.01


def test_recall_report_structure_and_bounds(spark):
    """Both methods report every probe; recall lands in [0, 10000] bp
    with n_exact pinned to the top-3 comparison set; and the report's
    IVF numbers agree with a direct recomputation from the two
    registered queries (composition really composes)."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.01"
    rows = all_queries()["q_sim_recall_report"](spark, sf).collect()
    by_method = {}
    for r in rows:
        by_method.setdefault(r["method"], {})[r["probe_id"]] = r
        assert r["n_exact"] == 3
        assert 0 <= r["n_hit"] <= 3
        assert 0 <= r["recall_bp"] <= 10000
        assert r["recall_bp"] == 10000 * r["n_hit"] // 3
    assert set(by_method) == {"ivf", "pq", "pq_rerank"}
    assert set(by_method["ivf"]) == set(by_method["pq"]) == set(
        by_method["pq_rerank"]
    )
    exact = {}
    for r in (
        all_queries()["q_sim_topk"](spark, sf).where("rank_pos <= 3").collect()
    ):
        exact.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    ivf = {}
    for r in all_queries()["q_sim_ivf"](spark, sf).collect():
        ivf.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    for p, want in exact.items():
        assert by_method["ivf"][p]["n_hit"] == len(want & ivf.get(p, set()))


def test_pq_rerank_recall_dominates_raw_pq(spark):
    """Exact re-ranking of the PQ top-25 must recover most of what the
    4-bit codes lose: measured 0.73 recall@3 vs raw PQ's 0.27 on this
    worst-case random corpus — the test pins ≥2× dominance and an
    absolute floor."""
    from copy_databasetables_spark.operators import all_queries

    rows = all_queries()["q_sim_recall_report"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    hits = {}
    for r in rows:
        hits[r["method"]] = hits.get(r["method"], 0) + r["n_hit"]
    assert hits["pq_rerank"] >= 2 * hits["pq"]
    assert hits["pq_rerank"] >= 15  # ≥ 0.5 recall over 30 exact slots


def test_bm25_scores_monotone_and_terms_verified(spark):
    """BM25 invariants on real data: the top-N list is sorted by the
    reported (rounded) score with doc_id tie-break, every hit count is
    within 1..|Q|, and every returned document actually contains at
    least one query term (re-verified against the raw text)."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.text import _BM25_QUERY, q_text_bm25
    from tests.conftest import SF_SMOKE

    rows = q_text_bm25(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 20
    key = [(-r["bm25"], r["doc_id"]) for r in rows]
    assert key == sorted(key)
    assert all(1 <= r["n_terms_hit"] <= len(_BM25_QUERY) for r in rows)
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id").isin([r["doc_id"] for r in rows]))
        .collect()
    }
    for r in rows:
        toks = set(texts[r["doc_id"]].lower().split(" "))
        assert toks & set(_BM25_QUERY)


def test_hybrid_search_prefilters_before_ranking(spark):
    """Filtered-ANN semantics: every neighbor's document row passes the
    metadata predicate, each probe still gets a full top-k (the
    pre-filter property — post-filtering would return short lists), and
    per-probe cosines are non-increasing in rank."""
    from collections import Counter

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.similarity import _K, q_sim_hybrid
    from tests.conftest import SF_SMOKE

    rows = q_sim_hybrid(spark, SF_SMOKE).collect()
    assert rows
    meta = {
        r["doc_id"]: (r["lang"], r["n_chars"])
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    per_probe = Counter()
    for r in rows:
        lang, n_chars = meta[r["neighbor_id"]]
        assert lang in ("en", "de") and n_chars >= 100
        assert r["lang"] == lang
        per_probe[r["probe_id"]] += 1
    # the qualifying corpus is far larger than k at every SF, so every
    # probe must get exactly k qualifying neighbors
    assert set(per_probe.values()) == {_K}
    by_probe = {}
    for r in sorted(rows, key=lambda r: (r["probe_id"], r["rank_pos"])):
        by_probe.setdefault(r["probe_id"], []).append(r["cosine"])
    for cs in by_probe.values():
        assert cs == sorted(cs, reverse=True)


def test_kmeans_inertia_non_increasing_and_total_assignment(spark):
    """Lloyd's guarantee: total inertia after (update → reassign) is ≤
    the iteration-1 inertia (J(a1,c0) ≥ J(a2,c1)); and every corpus
    vector lands in exactly one cluster."""
    from copy_databasetables_spark.operators.similarity import (
        _centroids,
        _km_assign,
        _vecs,
        q_emb_kmeans,
    )
    from tests.conftest import SF_SMOKE

    v = _vecs(spark, SF_SMOKE)
    n_vecs = v.count()
    c0 = _centroids(v).select("cid", "ce")
    j1 = _km_assign(v, c0).agg(F.sum("d2")).collect()[0][0]
    rows = q_emb_kmeans(spark, SF_SMOKE).collect()
    j2 = sum(r["inertia"] for r in rows)
    assert j2 <= j1 + 1e-6
    assert sum(r["n_assigned"] for r in rows) == n_vecs


def test_k_anonymity_report_invariants(spark):
    """The k-anonymity report must tile the corpus exactly (per-lang
    n_docs sum to the document count), keep risky counts within
    bounds, and report a suppression rate consistent with its own
    numerator/denominator."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.pipeline import q_k_anonymity
    from tests.conftest import SF_SMOKE

    rows = q_k_anonymity(spark, SF_SMOKE).collect()
    total = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r["n_docs"] for r in rows) == total
    for r in rows:
        assert 0 <= r["n_risky_groups"] <= r["n_groups"]
        assert 0 <= r["n_risky_docs"] <= r["n_docs"]
        assert r["min_group_size"] >= 1
        assert r["suppression_rate"] == round(r["n_risky_docs"] / r["n_docs"], 6)


def test_hybrid_ivf_composes_filter_with_index(spark):
    """The filtered-IVF path must (a) return only predicate-passing
    neighbors, (b) agree exactly with q_sim_hybrid's cosine wherever
    the two share a (probe, neighbor) pair, and (c) never exceed the
    IVF k per probe."""
    from collections import Counter

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.similarity import (
        _IVF_K,
        q_sim_hybrid,
        q_sim_hybrid_ivf,
    )
    from tests.conftest import SF_SMOKE

    ivf_rows = q_sim_hybrid_ivf(spark, SF_SMOKE).collect()
    assert ivf_rows
    meta = {
        r["doc_id"]: (r["lang"], r["n_chars"])
        for r in load_table(spark, SF_SMOKE, "documents").collect()
    }
    per_probe = Counter()
    for r in ivf_rows:
        lang, n_chars = meta[r["neighbor_id"]]
        assert lang in ("en", "de") and n_chars >= 100
        per_probe[r["probe_id"]] += 1
    assert max(per_probe.values()) <= _IVF_K
    exact = {
        (r["probe_id"], r["neighbor_id"]): r["cosine"]
        for r in q_sim_hybrid(spark, SF_SMOKE).collect()
    }
    shared = [
        r for r in ivf_rows if (r["probe_id"], r["neighbor_id"]) in exact
    ]
    assert shared  # the index finds at least some exact winners
    for r in shared:
        assert r["cosine"] == exact[(r["probe_id"], r["neighbor_id"])]


def test_hll_union_of_daily_sketches_is_lossless(spark):
    """The mergeable-sketch design only works if unioning per-day
    sketches estimates the same cardinality as one corpus-wide sketch —
    DataSketches HLL union is deterministic and lossless at equal
    lgConfigK, so the two estimates must be EQUAL, not merely close;
    and the op's verdict must be TRUE for every group."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.aggregates import q_agg_hll_mergeable
    from tests.conftest import SF_SMOKE

    rows = q_agg_hll_mergeable(spark, SF_SMOKE).collect()
    assert rows and all(r["within_tol"] for r in rows)

    ev = load_table(spark, SF_SMOKE, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = {
        r["event_type"]: r["est"]
        for r in daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    direct = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert merged == direct


def test_capped_embed_lsh_is_subset_and_equal_when_cap_slack(spark):
    """The nomination cap may only ever REMOVE pairs (subset of the
    plain variant), and at smoke scale (bucket population ~2 ≪ cap=40)
    it must not bind at all — byte-identical output to
    q_dedup_embed_lsh."""
    from copy_databasetables_spark.operators.dedup import (
        q_dedup_embed_lsh,
        q_dedup_embed_lsh_capped,
    )
    from tests.conftest import SF_SMOKE

    plain = {
        (r["vec_id_a"], r["vec_id_b"], r["cosine"])
        for r in q_dedup_embed_lsh(spark, SF_SMOKE).collect()
    }
    capped = {
        (r["vec_id_a"], r["vec_id_b"], r["cosine"])
        for r in q_dedup_embed_lsh_capped(spark, SF_SMOKE).collect()
    }
    assert capped <= plain
    assert capped == plain


def test_bm25_batch_query0_matches_single_query_op(spark):
    """_BM25_BATCH query 0 uses exactly q_text_bm25's terms, so the
    batch op's query-0 ranking must equal the single-query op's top
    rows (same scores, same order) up to the batch's smaller N."""
    from copy_databasetables_spark.operators.text import (
        _BM25_BATCH_TOPN,
        q_text_bm25,
        q_text_bm25_multi,
    )
    from tests.conftest import SF_SMOKE

    single = [
        (r["doc_id"], r["bm25"], r["n_terms_hit"])
        for r in q_text_bm25(spark, SF_SMOKE).collect()
    ][:_BM25_BATCH_TOPN]
    batch = [
        (r["doc_id"], r["bm25"], r["n_terms_hit"])
        for r in sorted(
            q_text_bm25_multi(spark, SF_SMOKE).collect(),
            key=lambda r: r["rank_pos"],
        )
        if r["query_id"] == 0
    ]
    assert batch == single


def test_pagerank_mass_conserved_and_positive(spark):
    """On a symmetric graph with no dangling vertices PageRank conserves
    probability mass: Σpr = 1 up to quantization error (≤ n·d·5e-10 per
    iteration); every rank is ≥ the teleport floor (1−d)/n; and vertices
    tie with their structural twins (same neighborhoods ⇒ same rank)."""
    from copy_databasetables_spark.operators.dedup import q_graph_pagerank
    from tests.conftest import SF_SMOKE

    rows = q_graph_pagerank(spark, SF_SMOKE).collect()
    assert rows
    n = len(rows)
    total = sum(r["pr"] for r in rows)
    assert abs(total - 1.0) < max(1e-6, n * 5e-9)
    floor = 0.15 / n
    assert all(r["pr"] >= floor - 1e-12 for r in rows)


def test_asof_tolerance_nulls_stale_matches(spark, tmp_path):
    """Tolerance semantics on a handcrafted timeline, driven through
    THE REAL OPERATOR (a crafted events.parquet dir fed to
    q_join_asof_tolerance, not a re-implementation): a signup within
    the window matches; a purchase whose ONLY prior signup is older
    than the window gets NULL (never a stale fill — the
    feature-freshness contract); an in-window tie still breaks to the
    larger event_id."""
    from copy_databasetables_spark.operators.joins import q_join_asof_tolerance

    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-10 11:00:00", "signup", 0.0, "{}"),  # 1h → match
            (2, 1, "2024-01-10 12:00:00", "purchase", 0.0, "{}"),
            (3, 2, "2024-01-01 09:00:00", "signup", 0.0, "{}"),  # 9d stale
            (4, 2, "2024-01-10 12:00:00", "purchase", 0.0, "{}"),
            (5, 3, "2024-01-10 11:00:00", "signup", 0.0, "{}"),  # same-ts
            (6, 3, "2024-01-10 11:00:00", "signup", 0.0, "{}"),  # tie → 6
            (7, 3, "2024-01-10 12:00:00", "purchase", 0.0, "{}"),
        ],
        "event_id long, user_id long, ts string, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    # testdata layout is ONE FILE per table (the footer probe reads it
    # directly), so lift Spark's part file out of its output directory
    import glob
    import shutil

    stage = tmp_path / "stage"
    ev.coalesce(1).write.mode("overwrite").parquet(str(stage))
    part = glob.glob(str(stage / "part-*.parquet"))[0]
    shutil.copy(part, tmp_path / "events.parquet")
    out = {
        r["purchase_id"]: r["signup_id"]
        for r in q_join_asof_tolerance(spark, str(tmp_path)).collect()
    }
    assert out == {2: 1, 4: None, 7: 6}


def test_survivor_pagerank_one_keeper_with_max_rank(spark):
    """Exactly one keep per cluster, and the keeper holds the cluster's
    maximum (rounded) rank with min-doc_id tie-break."""
    from collections import defaultdict

    from copy_databasetables_spark.operators.dedup import q_dedup_survivor_pagerank
    from tests.conftest import SF_SMOKE

    rows = q_dedup_survivor_pagerank(spark, SF_SMOKE).collect()
    assert rows
    by_cluster = defaultdict(list)
    for r in rows:
        by_cluster[r["cluster_id"]].append(r)
    for members in by_cluster.values():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1
        best = min(members, key=lambda r: (-r["pr"], r["doc_id"]))
        assert keepers[0]["doc_id"] == best["doc_id"]
        assert all(r["n_members"] == len(members) for r in members)


def test_semantic_dedup_chain_is_consistent(spark):
    """The r7 embedding-side chain: cluster membership must be exactly
    the vertex set of the scaled-LSH pair graph, and the survivor twin
    must keep exactly one member per cluster — the longest document
    (vec_id = doc_id 1:1), min id on ties."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    pairs = qs["q_dedup_embed_lsh_scaled"](spark, sf).collect()
    vertices = {r["vec_id_a"] for r in pairs} | {r["vec_id_b"] for r in pairs}
    clusters = qs["q_dedup_cluster_embed"](spark, sf).collect()
    assert {r["vec_id"] for r in clusters} == vertices
    # both endpoints of every pair share a cluster label
    label = {r["vec_id"]: r["cluster_id"] for r in clusters}
    for p in pairs:
        assert label[p["vec_id_a"]] == label[p["vec_id_b"]], p

    chars = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    rows = qs["q_dedup_survivor_embed"](spark, sf).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert by_cluster, "no semantic clusters at sf0.001?"
    for cid, members in by_cluster.items():
        keeps = [r for r in members if r["keep"]]
        assert len(keeps) == 1, (cid, keeps)
        best = min(members, key=lambda r: (-chars[r["doc_id"]], r["doc_id"]))
        assert keeps[0]["doc_id"] == best["doc_id"]


def test_kll_merged_sketch_preserves_count_and_rank(spark):
    """The mergeable-percentile design: the merged daily KLL sketches
    must carry the FULL corpus weight (get_n equals the exact per-group
    row count — merge drops nothing), and the op's rank verdict must be
    TRUE for every group."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.aggregates import q_agg_kll_mergeable
    from tests.conftest import SF_SMOKE

    rows = q_agg_kll_mergeable(spark, SF_SMOKE).collect()
    assert rows and all(r["within_tol"] for r in rows)

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "v", F.col("value").cast("double")
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.kll_sketch_agg_double("v").alias("sk")
    )
    merged_n = {
        r["event_type"]: r["n"]
        for r in daily.groupBy("event_type")
        .agg(F.kll_sketch_get_n_double(F.kll_merge_agg_double("sk")).alias("n"))
        .collect()
    }
    exact_n = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert merged_n == exact_n


def test_theta_intersection_exact_below_nominal_entries(spark):
    """Below the default 4096 nominal entries a theta sketch holds every
    hashed key, so the intersection ESTIMATE must equal the exact
    overlap exactly — the regime every gate SF sits in (and the reason
    the op's verdict band can never flap there)."""
    from copy_databasetables_spark.operators.aggregates import q_agg_theta_overlap
    from tests.conftest import SF_SMOKE

    rows = q_agg_theta_overlap(spark, SF_SMOKE).collect()
    assert rows and all(r["within_tol"] for r in rows)


def test_strip_spans_handcrafted_semantics(spark, tmp_path):
    """Pin q_text_strip_spans semantics on a handcrafted corpus,
    independent of the synthetic testdata: two docs share one 8-token
    span (both lose exactly those 8 positions, order preserved around
    the cut), a third all-unique doc is untouched, and a doc shorter
    than the span width can never be cut."""
    import os

    from copy_databasetables_spark.operators.text import q_text_strip_spans

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    docs = [
        (1, f"a1 a2 {shared} a3 a4", "en", "src0", 0),
        (2, f"b1 {shared} b2 b3 b4 b5", "en", "src0", 0),
        (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", "en", "src0", 0),
        (4, "tiny doc", "en", "src0", 0),
    ]
    d = str(tmp_path / "corpus")
    os.makedirs(d)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: r for r in q_text_strip_spans(spark, d).collect()
    }
    assert got[1]["n_removed"] == 8 and got[1]["cleaned_text"] == "a1 a2 a3 a4"
    assert got[2]["n_removed"] == 8 and got[2]["cleaned_text"] == "b1 b2 b3 b4 b5"
    assert got[3]["n_removed"] == 0 and got[3]["cleaned_text"].startswith("u1 u2")
    assert got[4]["n_removed"] == 0 and got[4]["cleaned_text"] == "tiny doc"


def test_quality_cascade_first_kill_partitions_the_corpus(spark):
    """Cascade invariants on the real corpus: first-kill counts sum to
    the doc count (attribution is a partition), each rule's first-kill
    is ≤ its order-independent total, and survivors are flagged by no
    rule (their two counts coincide by construction)."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.text import q_quality_cascade
    from tests.conftest import SF_SMOKE

    rows = {r["rule"]: r for r in q_quality_cascade(spark, SF_SMOKE).collect()}
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r["first_kills"] for r in rows.values()) == n_docs
    for rule, r in rows.items():
        if rule != "SURVIVORS":
            assert r["first_kills"] <= r["total_flagged"], rule
    assert rows["SURVIVORS"]["first_kills"] == rows["SURVIVORS"]["total_flagged"]


def test_corpus_drift_identical_snapshots_report_zero(spark):
    """drift_report(a, a) must be the all-zero fixed point: no adds, no
    removals, zero L1 histogram distance, identical means — the
    property monitoring alerts key on."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators.pipeline import drift_report
    from tests.conftest import SF_SMOKE

    a = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "n_chars"
    )
    for r in drift_report(a, a).collect():
        assert r["added"] == 0 and r["removed"] == 0, r
        assert r["l1_len_drift"] == 0, r
        assert r["docs_a"] == r["docs_b"], r
        assert r["mean_nchars_a"] == r["mean_nchars_b"], r


def test_strip_spans_keep1_canonical_occurrence_survives(spark, tmp_path):
    """Keep-one-canonical semantics on a handcrafted corpus: the
    canonical occurrence (min doc_id, min pos) of the shared span
    KEEPS its tokens; the other occurrence loses exactly the span."""
    import os

    from copy_databasetables_spark.operators.text import (
        q_text_strip_spans_keep1,
    )

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    docs = [
        (1, f"a1 a2 {shared} a3 a4", "en", "src0", 0),
        (2, f"b1 {shared} b2 b3 b4 b5", "en", "src0", 0),
    ]
    d = str(tmp_path / "corpus")
    os.makedirs(d)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r for r in q_text_strip_spans_keep1(spark, d).collect()}
    assert got[1]["n_removed"] == 0
    assert got[1]["cleaned_text"] == f"a1 a2 {shared} a3 a4"
    assert got[2]["n_removed"] == 8
    assert got[2]["cleaned_text"] == "b1 b2 b3 b4 b5"


def test_ivf_index_path_unique_per_call_and_corpus():
    """Persisted-index directories are unique per CALL (a later build
    can never overwrite a path an earlier lazy result still reads) and
    keyed on the FULL corpus path (two corpora sharing a basename don't
    collide) — the r7 ADVICE fix."""
    from copy_databasetables_spark.operators.similarity import _ivf_index_path

    p1 = _ivf_index_path("/root/testdata/sf0.001")
    p2 = _ivf_index_path("/root/testdata/sf0.001")
    assert p1 != p2
    p3 = _ivf_index_path("/tmp/elsewhere/sf0.001")
    assert p3.rsplit("/", 1)[1].split("_")[0] != p1.rsplit("/", 1)[1].split("_")[0]


def test_ivf_kscaled_persisted_matches_kscaled_and_survives_rebuild(spark):
    """The persisted sqrt-n index returns exactly the in-plan kscaled
    values, and an earlier persisted result still evaluates correctly
    AFTER a later call has built its own index (no shared-path
    overwrite)."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    pending = qs["q_sim_ivf_kscaled_persisted"](spark, sf)  # lazy
    later = qs["q_sim_ivf_kscaled_persisted"](spark, sf)
    expect = sorted(
        [tuple(r) for r in qs["q_sim_ivf_kscaled"](spark, sf).collect()],
        key=lambda t: (t[0], t[3]),
    )
    got_later = sorted([tuple(r) for r in later.collect()], key=lambda t: (t[0], t[3]))
    got_pending = sorted(
        [tuple(r) for r in pending.collect()], key=lambda t: (t[0], t[3])
    )
    assert got_later == expect
    assert got_pending == expect


def test_ivf_pq_persisted_matches_in_plan_and_survives_rebuild(spark):
    """The persisted IVFPQ index (r13) returns exactly the in-plan
    q_sim_ivf_pq values (same centroids, codebooks, argmins — only a
    parquet round-trip of assign/codebook/codes in between), and an
    earlier persisted result still evaluates correctly AFTER a later
    call has built its own index (per-call index paths, no shared-path
    overwrite)."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    pending = qs["q_sim_ivf_pq_persisted"](spark, sf)  # lazy
    later = qs["q_sim_ivf_pq_persisted"](spark, sf)
    expect = sorted(
        [tuple(r) for r in qs["q_sim_ivf_pq"](spark, sf).collect()],
        key=lambda t: (t[0], t[3]),
    )
    got_later = sorted([tuple(r) for r in later.collect()], key=lambda t: (t[0], t[3]))
    got_pending = sorted(
        [tuple(r) for r in pending.collect()], key=lambda t: (t[0], t[3])
    )
    assert got_later == expect
    assert got_pending == expect


def test_pq_codes_are_compact_ids_not_vectors(spark):
    """The persisted PQ artifacts must be the PRODUCTION shapes: codes
    carry (vec_id, m, code_id) — small ints, 8 bytes/vector bit-packed,
    the only corpus-sized artifact — never decoded float words; the
    codebook is the constant _PQ_M·_PQ_K table; and decode(codes,
    codebook) reproduces _pq_index exactly."""
    from copy_databasetables_spark.operators.similarity import (
        _PQ_K,
        _PQ_M,
        _pq_decode,
        _pq_index,
        _pq_parts,
        _vecs,
    )
    from tests.conftest import SF_SMOKE

    v = _vecs(spark, SF_SMOKE)
    sub_cb, codes = _pq_parts(v)
    assert set(codes.columns) == {"vec_id", "m", "code_id"}
    assert set(sub_cb.columns) == {"code_id", "m", "cw"}
    n_cb = sub_cb.count()
    assert n_cb <= _PQ_M * _PQ_K  # constant-size codebook
    n_vec = v.count()
    assert codes.count() == n_vec * _PQ_M  # one code per (vec, subspace)
    mx = codes.agg({"code_id": "max"}).collect()[0][0]
    assert mx < _PQ_K  # ids fit 4 bits at _PQ_K=16
    dec = sorted(
        tuple(r) for r in _pq_decode(codes, sub_cb).collect()
    )
    ref = sorted(tuple(r) for r in _pq_index(v).collect())
    assert dec == ref


def test_ppm_decode_is_a_real_byte_parser(spark):
    """The PGM pipeline's decode stage consumes actual bytes: a valid
    P5 payload round-trips dims and exact pixel sums; a corrupted magic
    raises instead of silently emitting features (the difference
    between a decoder and a stub)."""
    import numpy as np
    import pandas as pd

    from copy_databasetables_spark.operators.multimodal import (
        _ppm_decode_features,
        _ppm_encode,
    )

    src = pd.DataFrame({"doc_id": [0, 5, 13]})
    (encoded,) = list(_ppm_encode(iter([src])))
    # byte-level ground truth for doc 13: w=8+13%9=12, h=8+13%7=14
    p13 = bytes(encoded.loc[encoded.doc_id == 13, "payload"].iloc[0])
    assert p13.startswith(b"P5\n12 14\n255\n")
    expect = int(((13 * 31 + 7 * np.arange(12 * 14)) % 256).sum())

    (out,) = list(_ppm_decode_features(iter([encoded])))
    row = out[out.doc_id == 13].iloc[0]
    assert (row.w, row.h, row.ow, row.oh) == (12, 14, 6, 7)
    assert row.sum_px == expect
    # downscale is the even-row/even-col source pixels
    arr = np.frombuffer(p13, dtype=np.uint8, offset=len(b"P5\n12 14\n255\n")
                        ).reshape(14, 12)
    assert row.sum_small == int(arr[::2, ::2].sum(dtype=np.int64))

    bad = encoded.copy()
    bad.loc[0, "payload"] = b"P6\n" + bytes(encoded.loc[0, "payload"])[3:]
    try:
        list(_ppm_decode_features(iter([bad])))
        raise AssertionError("corrupted magic must raise")
    except ValueError as e:
        assert "not a binary PGM" in str(e)


def test_ppm_pipeline_plan_has_no_shuffle(spark):
    """The media-preprocessing plan must be embarrassingly parallel:
    scan -> encode mapInPandas -> decode mapInPandas with NO exchange —
    at 100 TB any shuffle here would move raw media bytes."""
    from copy_databasetables_spark.operators import all_queries

    df = all_queries()["q_multimodal_ppm_decode"](spark, "/root/testdata/sf0.001")
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert p.count("MapInPandas") == 2


def test_wav_decode_is_a_real_riff_parser(spark):
    """The WAV pipeline's decode walks real RIFF chunks: a valid
    payload round-trips count/sum/peak; wrong magic, a non-PCM fmt, and
    an odd-sized pre-data chunk (word-alignment, the classic parser
    bug) are all handled."""
    import struct

    import numpy as np
    import pandas as pd

    from copy_databasetables_spark.operators.multimodal import (
        _wav_decode_features,
        _wav_encode,
    )

    src = pd.DataFrame({"doc_id": [0, 9, 40]})
    (encoded,) = list(_wav_encode(iter([src])))
    p9 = bytes(encoded.loc[encoded.doc_id == 9, "payload"].iloc[0])
    assert p9[:4] == b"RIFF" and p9[8:12] == b"WAVE"
    n = 64 + (9 % 37) * 8
    ramp = ((9 * 13 + 5 * np.arange(n, dtype=np.int64)) % 4096) - 2048

    (out,) = list(_wav_decode_features(iter([encoded])))
    row = out[out.doc_id == 9].iloc[0]
    assert (row.sample_rate, row.n_samples) == (8000, n)
    assert row.sum_amp == int(ramp.sum())
    assert row.peak == int(np.abs(ramp).max())

    # word alignment: inject an ODD-sized LIST chunk before data; the
    # walker must skip the pad byte and still find the samples
    fmt_end = 12 + 8 + 16
    padded = (p9[:fmt_end] + b"LIST" + struct.pack("<I", 3) + b"abc\x00"
              + p9[fmt_end:])
    (out2,) = list(_wav_decode_features(iter([
        pd.DataFrame({"doc_id": [9], "payload": [padded]})])))
    assert out2.iloc[0].sum_amp == int(ramp.sum())

    for bad, msg in [
        (b"RIFX" + p9[4:], "not a RIFF/WAVE"),
        (p9[:20] + struct.pack("<H", 2) + p9[22:], "16-bit mono PCM"),
    ]:
        try:
            list(_wav_decode_features(iter([
                pd.DataFrame({"doc_id": [9], "payload": [bad]})])))
            raise AssertionError(f"expected failure: {msg}")
        except ValueError as e:
            assert msg in str(e)


def test_rrf_fusion_semantics(spark):
    """q_sim_rrf handcrafted semantics: per-probe fused list is exactly
    K rows ranked 1..K; every reported rrf equals the recomputed
    1/(60+r_sem) + 1/(60+r_lex) with absent ranks contributing 0; rrf
    is non-increasing down each fused list; and candidates retrieved by
    BOTH rankers exist (fusion is actually fusing, not concatenating)."""
    from copy_databasetables_spark.operators.similarity import (
        _RRF_C,
        _RRF_K,
        q_sim_rrf,
    )
    from tests.conftest import SF_SMOKE

    rows = q_sim_rrf(spark, SF_SMOKE).collect()
    assert rows
    by_probe: dict = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    for probe, grp in by_probe.items():
        ranks = sorted(g["fused_rank"] for g in grp)
        assert ranks == list(range(1, _RRF_K + 1)), probe
        grp = sorted(grp, key=lambda g: g["fused_rank"])
        prev = float("inf")
        for g in grp:
            expect = (1.0 / (_RRF_C + g["r_sem"]) if g["r_sem"] else 0.0) + (
                1.0 / (_RRF_C + g["r_lex"]) if g["r_lex"] else 0.0
            )
            assert abs(g["rrf"] - round(expect, 6)) < 1e-9
            assert g["rrf"] <= prev + 1e-9
            prev = g["rrf"]
    assert any(r["r_sem"] is not None and r["r_lex"] is not None for r in rows)


def test_minhash_estimator_audit_semantics(spark):
    """q_dedup_minhash_est handcrafted semantics: n_agree ∈ [0, 16] and
    est = n_agree/16 exactly; identical token sets (exact_jaccard = 1)
    MUST have identical signatures (n_agree = 16, zero error) — the
    estimator is exact on clones by construction; err_bp equals the
    recomputed scaled |Ĵ − J|."""
    from copy_databasetables_spark.operators.dedup import (
        _N_HASHES,
        q_dedup_minhash_est,
    )
    from tests.conftest import SF_SMOKE

    rows = q_dedup_minhash_est(spark, SF_SMOKE).collect()
    assert rows
    saw_clone = False
    for r in rows:
        assert 0 <= r["n_agree"] <= _N_HASHES
        assert abs(r["est_jaccard"] - r["n_agree"] / _N_HASHES) < 1e-12
        assert r["err_bp"] == int(
            abs(r["est_jaccard"] - r["exact_jaccard"]) * 10000 + 0.5
        )
        if r["exact_jaccard"] == 1.0:
            saw_clone = True
            assert r["n_agree"] == _N_HASHES
            assert r["err_bp"] == 0
    assert saw_clone  # the corpus seeds exact clones; banding must surface them


def _events_by_user(spark, sf: str):
    """Raw events grouped per user, sorted by (ts, event_id), with ts
    projected to epoch microseconds the same way the operators do."""
    from datetime import datetime, timedelta

    from copy_databasetables_spark.io import load_table

    us = lambda dt: (dt - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    by_user: dict[int, list] = {}
    for r in (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "value", "event_id")
        .collect()
    ):
        by_user.setdefault(r["user_id"], []).append(
            (us(r["ts"]), r["event_id"], r["value"])
        )
    for evs in by_user.values():
        evs.sort()
    return by_user


_HOUR_US = 3_600_000_000


def test_ts_ffill_matches_python_recompute(spark):
    """q_ts_resample_ffill vs a from-scratch Python recompute on the raw
    events: hourly contiguous grid over [trunc(min), trunc(max)] per
    user, each cell the hour's last event value (ts DESC, event_id DESC
    tie-break) carried forward across empty cells — value passes
    through untransformed, so equality is exact."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    by_user = _events_by_user(spark, sf)
    got: dict[tuple, float] = {}
    grids: dict[int, list] = {}
    for r in all_queries()["q_ts_resample_ffill"](spark, sf).collect():
        got[(r["user_id"], r["grid_us"])] = r["value_ffill"]
        grids.setdefault(r["user_id"], []).append(r["grid_us"])
    assert set(grids) == set(by_user)
    for uid, evs in by_user.items():
        t0 = evs[0][0] // _HOUR_US * _HOUR_US
        t1 = evs[-1][0] // _HOUR_US * _HOUR_US
        grid = sorted(grids[uid])
        assert grid[0] == t0 and grid[-1] == t1
        assert all(b - a == _HOUR_US for a, b in zip(grid, grid[1:]))
        closing = {}
        for t_us, eid, v in evs:  # sorted asc → the last write wins
            closing[t_us // _HOUR_US * _HOUR_US] = v
        prev = None
        for g in grid:
            prev = closing.get(g, prev)
            assert got[(uid, g)] == prev


def test_ts_interpolate_matches_python_recompute(spark):
    """q_ts_interpolate vs a from-scratch Python recompute: for each
    grid instant, linear blend between the nearest observation
    at-or-before and strictly-after; flat extrapolation past the last
    observation, back-fill before the first. Compared to 1e-4 (the
    op's declared 4-decimal rounding)."""
    import bisect

    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    by_user = _events_by_user(spark, sf)
    rows = all_queries()["q_ts_interpolate"](spark, sf).collect()
    assert rows
    seen = set()
    for r in rows:
        uid, g = r["user_id"], r["grid_us"]
        seen.add((uid, g))
        evs = by_user[uid]
        ts_list = [e[0] for e in evs]
        i = bisect.bisect_right(ts_list, g)  # evs[:i] have ts <= g
        prev = evs[i - 1] if i > 0 else None
        nxt = evs[i] if i < len(evs) else None
        if prev is not None and nxt is not None:
            want = prev[2] + (nxt[2] - prev[2]) * (
                float(g - prev[0]) / float(nxt[0] - prev[0])
            )
        elif prev is not None:
            want = prev[2]
        else:
            want = nxt[2]
        assert abs(r["value_interp"] - want) <= 1e-4, (uid, g)
    # identical spine as the ffill variant: same (user, grid) key set
    ff = all_queries()["q_ts_resample_ffill"](spark, sf).collect()
    assert seen == {(r["user_id"], r["grid_us"]) for r in ff}


def test_graph_triangles_matches_python_recompute(spark):
    """q_graph_triangles vs a brute-force recompute over
    q_dedup_minhash's banded pair set (the graph the op consumes):
    per-node triangle participation counts must match exactly (same
    graph, so the degree-ordered enumeration must agree with the
    adjacency-set intersection count), and only triangle-participating
    nodes may appear."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    pairs = [
        (r["doc_id_a"], r["doc_id_b"])
        for r in all_queries()["q_dedup_minhash"](spark, sf).collect()
    ]
    adj: dict[int, set] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want: dict[int, int] = {}
    for a, b in pairs:  # common neighbors of each edge, thirded per node
        for c in adj[a] & adj[b]:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    # each triangle's 3 edges each contribute its 3 nodes once → /3
    want = {n: c // 3 for n, c in want.items() if c}
    got = {
        r["doc_id"]: r["n_triangles"]
        for r in all_queries()["q_graph_triangles"](spark, sf).collect()
    }
    assert got == want
    assert got  # the clone-seeded corpus must contain triangles


def test_phrase_match_counts_overlapping_and_multiterm(spark):
    """phrase_match on handcrafted docs: positional counting includes
    self-overlapping occurrences of repeated-word phrases, k>2 phrases
    intersect k posting lists, first_pos is 0-based, and non-matching
    docs are absent."""
    from copy_databasetables_spark.operators.text import phrase_match

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),      # "a b" at 0 and 2; "b a" at 1 and 3
            (2, "x x x x"),        # "x x" overlaps: positions 0,1,2
            (3, "a b c d a b c"),  # "a b c" at 0 and 4
            (4, "b a"),            # no "a b"
        ],
        "doc_id long, text string",
    )
    two = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_match(docs, ["a", "b"]).collect()
    }
    assert two == {1: (2, 0), 3: (2, 0)}
    rep = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_match(docs, ["x", "x"]).collect()
    }
    assert rep == {2: (3, 0)}
    three = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_match(docs, ["a", "b", "c"]).collect()
    }
    assert three == {3: (2, 0)}


def test_l_diversity_consistency_with_raw_groups(spark):
    """q_l_diversity vs a direct recompute of the (lang, len_bucket)
    groups: group counts, doc totals, exposed-doc sums and min_l must
    all agree, and every low-diversity group genuinely has < 3 distinct
    sources."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    raw: dict[tuple, dict] = {}
    for r in load_table(spark, sf, "documents").select(
        "lang", "n_chars", "source"
    ).collect():
        key = (r["lang"], r["n_chars"] // 100 * 100)
        g = raw.setdefault(key, {"n": 0, "srcs": set()})
        g["n"] += 1
        g["srcs"].add(r["source"])
    per_lang: dict[str, dict] = {}
    for (lang, _), g in raw.items():
        s = per_lang.setdefault(
            lang, {"n_groups": 0, "low": 0, "exposed": 0, "min_l": 99, "docs": 0}
        )
        l = len(g["srcs"])
        s["n_groups"] += 1
        s["docs"] += g["n"]
        s["min_l"] = min(s["min_l"], l)
        if l < 3:
            s["low"] += 1
            s["exposed"] += g["n"]
    rows = all_queries()["q_l_diversity"](spark, sf).collect()
    assert {r["lang"] for r in rows} == set(per_lang)
    for r in rows:
        s = per_lang[r["lang"]]
        assert r["n_groups"] == s["n_groups"]
        assert r["n_low_div_groups"] == s["low"]
        assert r["n_exposed_docs"] == s["exposed"]
        assert r["min_l"] == s["min_l"]
        assert r["n_docs"] == s["docs"]


def test_emb_covariance_matches_numpy(spark):
    """q_emb_covariance vs numpy's population covariance on the raw
    embeddings: within the quantization budget (per-element 1e-9 rounds,
    then a 6-decimal output round → 1e-6 tolerance); diagonal entries
    are variances (non-negative) and Cauchy-Schwarz bounds every
    off-diagonal entry."""
    import numpy as np

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    X = np.asarray(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in load_table(spark, sf, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    want = np.cov(X, rowvar=False, bias=True)  # population covariance
    rows = all_queries()["q_emb_covariance"](spark, sf).collect()
    d = X.shape[1]
    assert len(rows) == d * (d + 1) // 2  # upper triangle, no gaps
    var = {r["i"]: r["cov"] for r in rows if r["i"] == r["j"]}
    for r in rows:
        assert r["n_vectors"] == len(X)
        assert abs(r["cov"] - want[r["i"], r["j"]]) <= 1e-5
        if r["i"] == r["j"]:
            assert r["cov"] >= 0.0
        else:
            bound = (var[r["i"]] * var[r["j"]]) ** 0.5 + 1e-6
            assert abs(r["cov"]) <= bound


def test_cms_never_underestimates_and_top_set_is_true(spark):
    """Count-Min guarantees: the estimate can only OVERcount (every
    occurrence of the key hashes into all d of its cells), so
    est_n >= true_n with err = est_n - true_n >= 0; the probed set must
    be exactly the true top-10 users by (count DESC, user_id)."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    counts: dict[int, int] = {}
    for r in load_table(spark, sf, "events").select("user_id").collect():
        counts[r["user_id"]] = counts.get(r["user_id"], 0) + 1
    want_top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = all_queries()["q_agg_cms_err"](spark, sf).collect()
    assert {(r["user_id"], r["true_n"]) for r in rows} == set(want_top)
    for r in rows:
        assert r["est_n"] >= r["true_n"]
        assert r["err"] == r["est_n"] - r["true_n"]


def test_top_eigvec_matches_quantized_numpy_power_iteration(spark):
    """q_emb_top_eigvec vs an exact numpy replica of the quantized
    power iteration (same covariance rounding, same per-term 1e12
    quantization, same 1e-9 re-quantization per round): components
    must match to the output resolution, the vector is unit-norm, and
    the eigenvalue estimate brackets numpy's true top eigenvalue."""
    import numpy as np

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import (
        _COV_SCALE,
        _PI_ITERS,
        _PI_SCALE,
    )

    sf = "/root/testdata/sf0.001"
    X = np.asarray(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in load_table(spark, sf, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    n, d = X.shape
    sxy = np.zeros((d, d), dtype=np.int64)
    for lo in range(0, n, 512):
        c = X[lo : lo + 512]
        sxy += (
            np.floor(c[:, :, None] * c[:, None, :] * _COV_SCALE + 0.5)
            .astype(np.int64)
            .sum(axis=0)
        )
    sx = np.floor(X * _COV_SCALE + 0.5).astype(np.int64).sum(axis=0)
    cov = np.round(
        (sxy.astype(np.float64) / _COV_SCALE) / n
        - np.outer(sx / _COV_SCALE / n, sx / _COV_SCALE / n),
        6,
    )
    v = np.full(d, 1.0 / d**0.5)
    for _ in range(_PI_ITERS):
        w = (
            np.floor(cov * v[None, :] * _PI_SCALE + 0.5)
            .astype(np.int64)
            .sum(axis=1)
            .astype(np.float64)
            / _PI_SCALE
        )
        nrm = (
            np.floor(w * w * _PI_SCALE + 0.5).astype(np.int64).sum()
            / _PI_SCALE
        ) ** 0.5
        v = np.floor(w / nrm * _COV_SCALE + 0.5) / _COV_SCALE
    rows = all_queries()["q_emb_top_eigvec"](spark, sf).collect()
    assert len(rows) == d
    got = np.empty(d)
    for r in rows:
        got[r["pos"]] = r["eigvec_val"]
        assert r["eigenvalue"] == round(nrm, 6)
    assert np.abs(got - v).max() <= 2e-9
    assert abs(np.linalg.norm(got) - 1.0) <= 1e-6
    # ‖Cv‖ ≤ λ_max exactly for any unit v (spectral norm); the random
    # test embeddings have a near-flat Marchenko-Pastur-ish spectrum,
    # so 6 rounds only REACH TOWARD the top — the op's deliverable is
    # the deterministic iterate, and the estimate must sit in the top
    # region of the spectrum, never above it.
    true_top = np.linalg.eigvalsh(cov)[-1]
    assert nrm <= true_top + 1e-6
    assert nrm >= 0.75 * true_top


def test_temporal_dim_join_covers_every_event_exactly_once(spark):
    """Half-open [valid_from, valid_to) versioning partitions time, so
    every event must join EXACTLY one dimension version; tier follows
    the event's position in the Jan-2024 span, and discount re-derives
    from (user_id, version)."""
    from datetime import datetime

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    n_events = load_table(spark, sf, "events").count()
    rows = all_queries()["q_join_temporal_dim"](spark, sf).collect()
    assert len(rows) == n_events  # exactly-once coverage
    t1 = datetime(2024, 1, 11).timestamp() * 1e6
    t2 = datetime(2024, 1, 21).timestamp() * 1e6
    for r in rows:
        want_version = 1 if r["ts_us"] < t1 else (2 if r["ts_us"] < t2 else 3)
        assert r["version"] == want_version
        assert r["tier"] == {1: "bronze", 2: "silver", 3: "gold"}[r["version"]]
        assert r["discount"] == r["user_id"] % 5 + r["version"]


def test_skew_report_internal_consistency(spark):
    """Each leg's numbers must cohere: n_rows equals the table's row
    count, max >= p90 >= mean >= 1, skew_ratio re-derives from
    max/mean, and the reported top key really is a heaviest key."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.analytics import _SKEW_LEGS

    sf = "/root/testdata/sf0.001"
    rows = {r["key_col"]: r for r in all_queries()["q_skew_report"](spark, sf).collect()}
    assert set(rows) == {f"{t}.{k}" for t, k in _SKEW_LEGS}
    for table, key in _SKEW_LEGS:
        r = rows[f"{table}.{key}"]
        counts: dict[int, int] = {}
        for x in load_table(spark, sf, table).select(key).collect():
            counts[x[key]] = counts.get(x[key], 0) + 1
        assert r["n_keys"] == len(counts)
        assert r["n_rows"] == sum(counts.values())
        assert r["max_n"] == max(counts.values())
        assert r["max_n"] >= r["p90_n"] >= r["mean_n"] >= 1.0
        assert abs(r["skew_ratio"] - round(r["max_n"] / (r["n_rows"] / r["n_keys"]), 4)) < 1e-9
        assert counts[r["top_key"]] == r["max_n"]


def test_containment_matches_python_recompute_and_is_asymmetric(spark):
    """q_dedup_containment vs a brute-force directed recompute over the
    raw bigram-shingle sets: the pair set and containment values must
    match exactly (this also re-proves the prefix filter lossless on a
    second implementation), and the relation must actually be used
    asymmetrically — at least one reported (A ⊆ B) pair whose reverse
    direction does not qualify."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    docs = [
        (r["doc_id"], r["lang"], r["text"].split(" "))
        for r in load_table(spark, sf, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    ]
    shingles = {
        d: (lang, {f"{t[i]} {t[i+1]}" for i in range(len(t) - 1)})
        for d, lang, t in docs
    }
    want = {}
    ids = sorted(shingles)
    for a in ids:
        la, sa = shingles[a]
        if not sa:
            continue
        for b in ids:
            if a == b or shingles[b][0] != la:
                continue
            inter = len(sa & shingles[b][1])
            c = inter / len(sa)
            if c >= 0.90:
                want[(a, b)] = c
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["containment"]
        for r in all_queries()["q_dedup_containment"](spark, sf).collect()
    }
    assert got, "clone-seeded corpus must contain containment pairs"
    assert set(got) == set(want)
    for k, v in got.items():
        # directional: the recompute divides by |A|, so an exact match
        # across every ordered pair pins the asymmetric semantics even
        # when the smoke corpus's pairs all happen to be mutual clones
        assert abs(v - want[k]) < 1e-12


def test_cluster_containment_closes_subsumption_chains(spark):
    """Every directed containment pair's endpoints share a cluster,
    cluster_id is the minimum member, and sizes match membership — the
    same closure invariants the Jaccard cluster tests pin, on the
    subsumption graph."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["q_dedup_cluster_containment"](spark, sf).collect()
    label = {r["doc_id"]: r["cluster_id"] for r in rows}
    by_cluster: dict[int, set] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["doc_id"])
        assert r["cluster_id"] <= r["doc_id"]
    sizes = {r["cluster_id"]: r["n_members"] for r in rows}
    for cid, members in by_cluster.items():
        assert cid == min(members)
        assert sizes[cid] == len(members)
    pairs = all_queries()["q_dedup_containment"](spark, sf).collect()
    assert pairs
    for p in pairs:
        assert label[p["doc_id_a"]] == label[p["doc_id_b"]]


def test_keywords_are_each_docs_top_tfidf_terms(spark):
    """q_text_keywords vs a recompute from q_text_tfidf's own output:
    exactly 3 ranked keywords per doc, matching the (rounded-tfidf
    DESC, term ASC) order of the full tfidf table."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    full: dict[int, list] = {}
    for r in all_queries()["q_text_tfidf"](spark, sf).collect():
        full.setdefault(r["doc_id"], []).append((-r["tfidf"], r["term"]))
    want = {
        d: [t for _, t in sorted(v)[:3]] for d, v in full.items()
    }
    got: dict[int, list] = {}
    for r in all_queries()["q_text_keywords"](spark, sf).collect():
        got.setdefault(r["doc_id"], []).append((r["rank_pos"], r["keyword"]))
    assert set(got) == set(want)
    for d, ks in got.items():
        ks.sort()
        assert [k for _, k in ks] == want[d]
        assert [p for p, _ in ks] == [1, 2, 3]


def test_hard_negatives_semantics_and_plan(spark):
    """q_sim_hard_negatives: every returned negative has a label
    different from its probe's; per probe the cosines are
    non-increasing by rank; and each returned row's cosine is >= the
    best cosine of any EXCLUDED different-label vector beyond rank k
    (i.e. the top-k really is the top-k of the different-label set) —
    cross-checked against q_sim_topk's unrestricted ranking. Plan: the
    probe side broadcasts; no cartesian fallback."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    df = all_queries()["q_sim_hard_negatives"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan

    rows = df.collect()
    assert rows
    by_probe: dict[int, list] = {}
    for r in rows:
        assert r["negative_label"] != r["probe_label"]
        by_probe.setdefault(r["probe_id"], []).append(r)
    for pid, rs in by_probe.items():
        rs.sort(key=lambda r: r["rank_pos"])
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert [r["rank_pos"] for r in rs] == list(range(1, len(rs) + 1))

    # exactness cross-check vs the unrestricted top-k: any unrestricted
    # neighbor with a DIFFERENT label must appear in the hard-negative
    # set at the same-or-better cosine (the restricted ranking can only
    # promote different-label rows, never drop one the unrestricted
    # ranking already surfaced).
    topk = all_queries()["q_sim_topk"](spark, sf).collect()
    hn = {(r["probe_id"], r["negative_id"]) for r in rows}
    probe_label = {r["probe_id"]: r["probe_label"] for r in rows}
    neg_label = {}
    for r in rows:
        neg_label[r["negative_id"]] = r["negative_label"]
    for r in topk:
        pid = r["probe_id"]
        if pid not in probe_label:
            continue
        nid = r["neighbor_id"]
        if nid in neg_label and neg_label[nid] != probe_label[pid]:
            assert (pid, nid) in hn, (
                f"unrestricted neighbor {nid} (different label) missing "
                f"from hard negatives of probe {pid}"
            )


def test_mmr_matches_numpy_greedy_and_diversifies(spark):
    """q_sim_mmr re-derived in plain numpy: exact top-10 pool per
    probe, then the greedy λ=0.5 MMR unroll with id tie-breaks — the
    selected ids and ranks must match the operator exactly. Also pins
    the diversification property on aggregate: the MMR set's mean
    pairwise cosine is <= the plain top-3's (equality only if they
    coincide everywhere)."""
    import numpy as np

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import (
        _MMR_K,
        _MMR_LAMBDA,
        _MMR_POOL,
    )

    sf = "/root/testdata/sf0.001"
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf, "embeddings").collect()
    }
    emb = {k: v for k, v in emb.items() if np.dot(v, v) > 0}
    ids = sorted(emb)
    probes = [i for i in ids if i % 50 == 0]

    def cos(a, b):
        return float(
            np.dot(emb[a], emb[b])
            / (np.sqrt(np.dot(emb[a], emb[a])) * np.sqrt(np.dot(emb[b], emb[b])))
        )

    expected = {}
    plain_sets, mmr_sets = {}, {}
    for p in probes:
        scored = sorted(
            ((cos(p, c), -c) for c in ids if c != p), reverse=True
        )
        pool = [-negid for _, negid in scored[:_MMR_POOL]]
        rel = {c: cos(p, c) for c in pool}
        sel = [pool[0]]
        while len(sel) < _MMR_K:
            best = max(
                (
                    (
                        _MMR_LAMBDA * rel[c]
                        - (1 - _MMR_LAMBDA) * max(cos(c, s) for s in sel),
                        -c,
                    )
                    for c in pool
                    if c not in sel
                ),
            )
            sel.append(-best[1])
        expected[p] = sel
        plain_sets[p] = pool[:_MMR_K]
        mmr_sets[p] = sel

    rows = all_queries()["q_sim_mmr"](spark, sf).collect()
    got = {}
    for r in rows:
        got.setdefault(r["probe_id"], {})[r["mmr_rank"]] = r["selected_id"]
    assert set(got) == set(expected)
    for p, sel in expected.items():
        assert [got[p][k] for k in (1, 2, 3)] == sel, f"probe {p}"

    def mean_pairwise(s):
        return np.mean(
            [cos(a, b) for i, a in enumerate(s) for b in s[i + 1:]]
        )

    mmr_div = np.mean([mean_pairwise(mmr_sets[p]) for p in probes])
    plain_div = np.mean([mean_pairwise(plain_sets[p]) for p in probes])
    assert mmr_div <= plain_div + 1e-12


def test_tpch_q19_envelopes_are_semantics_preserving(spark):
    """q_tpch_q19 adds single-table pushdown ENVELOPES implied by its
    cross-table disjunction (p_brand IN + p_size cap on part;
    l_quantity band on lineitem). This test recomputes the query with
    NO envelopes — the bare join + disjunction — and asserts identical
    results, so a future edit to an arm that forgets to widen the
    envelopes (which would silently DROP qualifying rows) fails here
    rather than in production."""
    from pyspark.sql import functions as F

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.tpch import _Q19_ARMS

    sf = "/root/testdata/sf0.01"
    got = all_queries()["q_tpch_q19"](spark, sf).collect()[0]

    p = load_table(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    l = load_table(spark, sf, "lineitem")  # noqa: E741
    arm = lambda b, slo, shi, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == b)
        & F.col("p_size").between(slo, shi)
        & F.col("l_quantity").between(qlo, qhi)
    )
    disj = arm(*_Q19_ARMS[0]) | arm(*_Q19_ARMS[1]) | arm(*_Q19_ARMS[2])
    from copy_databasetables_spark.operators._helpers import dsum

    bare = (
        l.join(p, l.l_partkey == p.p_partkey)
        .where(disj)
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .collect()[0]
    )
    assert bare["n_lines"] == got["n_lines"]
    assert abs(bare["revenue"] - got["revenue"]) < 1e-9


def test_weighted_sample_biases_toward_weight(spark):
    """q_sample_weighted must actually implement WEIGHTED selection:
    with w = n_chars, the Efraimidis–Spirakis top-k per source selects
    long documents with probability proportional to length, so the
    sampled mean n_chars must exceed the corpus mean (by a wide margin
    at 500 docs / 20-per-source). Also pins the without-replacement
    contract (no duplicate doc_id) and the per-source k cap."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.pipeline import _WSAMPLE_K

    import pyspark.sql.functions as F

    from copy_databasetables_spark.io import load_table
    from tests.conftest import SF_SMOKE

    out = all_queries()["q_sample_weighted"](spark, SF_SMOKE)
    corpus_mean = (
        load_table(spark, SF_SMOKE, "documents")
        .where("n_chars > 0")
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    sample_mean = out.agg(F.avg("n_chars")).first()[0]
    assert sample_mean > corpus_mean * 1.05, (sample_mean, corpus_mean)
    assert out.count() == out.select("doc_id").distinct().count()
    assert (
        out.groupBy("source").count().agg(F.max("count")).first()[0]
        <= _WSAMPLE_K
    )


def test_whitening_centers_the_corpus(spark):
    """q_emb_whitening must actually CENTER: summing the per-vector
    centered component sums over the corpus telescopes to
    Σ_pos (Σ_vec x - n·mu) ≈ 0, with only the mean's 10⁻⁶ quantization
    as slack — so the corpus total is bounded by n_vectors · d · 1e-6.
    Also pins |w0| ≤ 1 (a component of a unit vector) and
    norm_after ≤ norm_before + slack only when the mean is ~0 is NOT
    asserted (centering can grow a norm for vectors anti-aligned with
    the mean) — the invariant that IS true: norms are positive."""
    from copy_databasetables_spark.operators import all_queries

    import pyspark.sql.functions as F

    from tests.conftest import SF_SMOKE

    out = all_queries()["q_emb_whitening"](spark, SF_SMOKE)
    row = out.agg(
        F.sum("comp_sum_centered").alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs("w0")).alias("w0max"),
        F.min("norm_after").alias("na_min"),
    ).first()
    d = 64
    assert abs(row["total"]) <= row["n"] * d * 1e-6 + 1e-3, row["total"]
    assert row["w0max"] <= 1.0
    assert row["na_min"] > 0


def test_whitened_topk_differs_from_raw_and_is_valid(spark):
    """The whitening×retrieval composition must be a REAL transform:
    q_sim_topk_whitened's neighbor ranking has to genuinely differ
    from q_sim_topk's on the testdata (a no-op centering — mean not
    actually subtracted, or subtracted then renormalized away — would
    reproduce the raw ranking exactly and silently defeat the
    anisotropy mitigation). Also pins the output contract: same probe
    set as the raw op, exactly _K rows per probe, ranks 1.._K, and
    cosines in [-1, 1 + ulp]."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import _K

    import pyspark.sql.functions as F

    from tests.conftest import SF_SMOKE

    qs = all_queries()
    raw = qs["q_sim_topk"](spark, SF_SMOKE).collect()
    wht = qs["q_sim_topk_whitened"](spark, SF_SMOKE).collect()

    raw_rank = {(r["probe_id"], r["rank_pos"]): r["neighbor_id"] for r in raw}
    wht_rank = {(r["probe_id"], r["rank_pos"]): r["neighbor_id"] for r in wht}

    # identical probe set, full k per probe, ranks are 1.._K
    assert {r["probe_id"] for r in wht} == {r["probe_id"] for r in raw}
    per_probe: dict = {}
    for r in wht:
        per_probe.setdefault(r["probe_id"], []).append(r["rank_pos"])
        assert -1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9
    assert all(sorted(v) == list(range(1, _K + 1)) for v in per_probe.values())

    # the transform must move the ranking somewhere
    assert wht_rank != raw_rank, (
        "whitened top-k identical to raw top-k — centering was a no-op"
    )


def test_ivf_pq_stays_in_cell_and_scores_decoded(spark):
    """q_sim_ivf_pq must really COMPOSE the two index halves: (a) every
    returned neighbor shares its probe's IVF cell (recomputed from the
    op's own assignment helper — a wrong/missing cell join would leak
    cross-cell candidates); (b) ranks are contiguous from 1 per probe;
    (c) the cosines differ from flat IVF's somewhere — asymmetric-PQ
    scores against the DECODED reconstruction, so scoring the raw
    vectors (a decode-as-identity bug) would reproduce q_sim_ivf's
    cosines exactly."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import (
        _centroids,
        _ivf_assign,
        _vecs,
    )
    from tests.conftest import SF_SMOKE

    qs = all_queries()
    out = qs["q_sim_ivf_pq"](spark, SF_SMOKE).collect()
    assert out, "ivf_pq returned nothing"
    v = _vecs(spark, SF_SMOKE)
    cell = {
        r["vec_id"]: r["cid"]
        for r in _ivf_assign(v, _centroids(v)).collect()
    }
    per_probe: dict = {}
    for r in out:
        assert cell[r["neighbor_id"]] == cell[r["probe_id"]], (
            "neighbor escaped its probe's inverted list"
        )
        per_probe.setdefault(r["probe_id"], []).append(r["rank_pos"])
    assert all(
        sorted(v) == list(range(1, len(v) + 1)) for v in per_probe.values()
    )
    flat = {
        (r["probe_id"], r["neighbor_id"]): r["cosine"]
        for r in qs["q_sim_ivf"](spark, SF_SMOKE).collect()
    }
    pq = {(r["probe_id"], r["neighbor_id"]): r["cosine"] for r in out}
    assert pq != flat, (
        "PQ cosines identical to flat IVF — decode was an identity no-op"
    )


def test_remove_top_pc_is_an_orthogonal_projection(spark):
    """q_emb_remove_top_pc must satisfy Pythagoras per vector:
    ‖e‖² = ‖e′‖² + proj² (the residual is orthogonal to v₁), within
    the output quantization slack — a wrong eigvec normalization, a
    double-subtraction, or projecting onto the mean instead of v₁ all
    break this identity. Also pins: removal never grows a norm, the
    transform is not a global no-op, and no input vector is dropped."""
    from copy_databasetables_spark.operators import all_queries

    from copy_databasetables_spark.io import load_table
    from tests.conftest import SF_SMOKE

    out = all_queries()["q_emb_remove_top_pc"](spark, SF_SMOKE).collect()
    n_emb = load_table(spark, SF_SMOKE, "embeddings").count()
    assert len(out) == n_emb
    assert any(abs(r["pc1_proj"]) > 1e-3 for r in out), "no-op transform"
    for r in out:
        nb, na, pj = r["norm_before"], r["norm_after"], r["pc1_proj"]
        assert na <= nb + 1e-6, (nb, na)
        assert abs(nb * nb - (na * na + pj * pj)) <= 1e-3, r


def test_reservoir_sample_is_exactly_the_n_smallest_keys(spark):
    """q_sample_reservoir's contract: EXACTLY _RESERVOIR_N rows, no
    duplicates, and the selected set is precisely the N smallest
    md5-60-bit keys over the whole corpus (recomputed in Python) — a
    per-partition limit, a wrong key width, or a nondeterministic
    sample all break set equality."""
    import hashlib

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.pipeline import _RESERVOIR_N

    from copy_databasetables_spark.io import load_table
    from tests.conftest import SF_SMOKE

    out = all_queries()["q_sample_reservoir"](spark, SF_SMOKE).collect()
    assert len(out) == _RESERVOIR_N
    assert len({r["doc_id"] for r in out}) == _RESERVOIR_N
    ids = [
        r["doc_id"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id")
        .collect()
    ]
    key = lambda d: int(  # noqa: E731
        hashlib.md5(str(d).encode()).hexdigest()[:15], 16
    )
    expect = set(sorted(((key(d), d) for d in ids))[:_RESERVOIR_N])
    assert {(r["res_key"], r["doc_id"]) for r in out} == expect


def test_winsorize_matches_python_recompute(spark):
    """q_agg_winsorize cross-checked row-for-row against a Python
    recompute of the discrete-percentile thresholds (rank ceil(p·n) on
    the (value, event_id) total order) and the clip: value_w is the
    clamp, flags name the clipped side, no row is dropped, and the
    corpus's planted 490.x outliers guarantee at least one 'high'."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.aggregates import (
        _WINSOR_HI_PCT,
        _WINSOR_LO_PCT,
    )

    from copy_databasetables_spark.io import load_table
    from tests.conftest import SF_SMOKE

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .where("value is not null")
        .select("event_id", "event_type", "value")
        .collect()
    )
    by_type: dict = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(
            (r["value"], r["event_id"])
        )
    th = {}
    for t, vals in by_type.items():
        vals.sort()
        n = len(vals)
        lo = vals[(n * _WINSOR_LO_PCT + 99) // 100 - 1][0]
        hi = vals[(n * _WINSOR_HI_PCT + 99) // 100 - 1][0]
        th[t] = (lo, hi)
    out = all_queries()["q_agg_winsorize"](spark, SF_SMOKE).collect()
    assert len(out) == len(ev)
    flags = set()
    for r in out:
        lo, hi = th[r["event_type"]]
        want = min(max(r["value_raw"], lo), hi)
        assert abs(r["value_w"] - want) <= 1e-6, (r, lo, hi)
        want_flag = (
            "low"
            if r["value_raw"] < lo
            else "high" if r["value_raw"] > hi else "in"
        )
        assert r["clip_flag"] == want_flag, (r, lo, hi)
        flags.add(r["clip_flag"])
    assert "high" in flags and "low" in flags


def test_asof_nearest_picks_minimal_absolute_gap(spark):
    """q_join_asof_nearest cross-checked against a Python recompute:
    for every purchase the matched signup is the same user's signup
    with the smallest |ts gap| within the ±_NEAREST_TOL_HOURS band
    (ties → earlier signup, then event_id), NULL when the band is
    empty — and the signed gap_us is exact integer microseconds."""
    from datetime import datetime, timedelta

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.joins import (
        _NEAREST_TOL_HOURS,
    )

    from copy_databasetables_spark.io import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").collect()
    sign = [r for r in ev if r["event_type"] == "signup"]
    tol_us = _NEAREST_TOL_HOURS * 3600 * 1_000_000
    # Integer arithmetic against a fixed UTC epoch (ADVICE r12): the
    # engine's session TZ is pinned UTC, so naive driver-side datetimes
    # are UTC wall-clock; .timestamp() would reinterpret them in the
    # HOST's local zone and the float multiply truncates at .5-µs
    # boundaries — both environment-sensitive.
    _epoch = datetime(1970, 1, 1)
    us = lambda ts: (ts - _epoch) // timedelta(microseconds=1)  # noqa: E731

    expect = {}
    for p in (r for r in ev if r["event_type"] == "purchase"):
        cands = [
            (abs(us(s["ts"]) - us(p["ts"])), us(s["ts"]), s["event_id"])
            for s in sign
            if s["user_id"] == p["user_id"]
            and abs(us(s["ts"]) - us(p["ts"])) <= tol_us
        ]
        expect[p["event_id"]] = min(cands)[2] if cands else None

    out = all_queries()["q_join_asof_nearest"](spark, SF_SMOKE).collect()
    assert {r["purchase_id"] for r in out} == set(expect)
    for r in out:
        assert r["signup_id"] == expect[r["purchase_id"]], r
        if r["signup_id"] is not None:
            assert r["gap_us"] == r["signup_ts_us"] - r["purchase_ts_us"]
            assert abs(r["gap_us"]) <= tol_us
        else:
            assert r["gap_us"] is None


def test_pca2_deflation_yields_orthogonal_second_component(spark):
    """q_emb_pca2's kill conditions: (a) pc1 must equal
    q_emb_remove_top_pc's pc1_proj per vector (both project onto the
    SAME v₁ — a drifted chain or a different quantization breaks the
    composition); (b) the two components must come from (near-)
    orthogonal directions, verified in data space: corpus variance
    along pc1 ≥ along pc2 (v₁ is the DOMINANT direction; a failed
    deflation that re-converges chain 2 onto v₁ would make the
    variances equal AND the coordinates identical — also killed by
    (c) pc1 ≠ pc2 somewhere); (d) Σ pc1·pc2 over the corpus ≈ n·⟨v₁,
    Σxxᵀ v₂⟩'s cross-term, small relative to the pc1 energy for
    orthogonal directions."""
    from copy_databasetables_spark.operators import all_queries

    from tests.conftest import SF_SMOKE

    qs = all_queries()
    pca = {r["vec_id"]: r for r in qs["q_emb_pca2"](spark, SF_SMOKE).collect()}
    rem = {
        r["vec_id"]: r
        for r in qs["q_emb_remove_top_pc"](spark, SF_SMOKE).collect()
    }
    # (a) composition consistency — same v1, same quantization
    for vid, r in rem.items():
        assert abs(pca[vid]["pc1"] - r["pc1_proj"]) <= 2e-6, (vid, r)
    n = len(pca)
    m1 = sum(r["pc1"] for r in pca.values()) / n
    m2 = sum(r["pc2"] for r in pca.values()) / n
    var1 = sum((r["pc1"] - m1) ** 2 for r in pca.values()) / n
    var2 = sum((r["pc2"] - m2) ** 2 for r in pca.values()) / n
    assert var1 >= var2 * 0.999, (var1, var2)  # (b) dominance ordering
    assert any(
        abs(r["pc1"] - r["pc2"]) > 1e-4 for r in pca.values()
    )  # (c) chain 2 didn't re-converge onto v1
    # (d) centered cross-moment small vs the pc1 energy
    cross = sum(
        (r["pc1"] - m1) * (r["pc2"] - m2) for r in pca.values()
    ) / n
    assert abs(cross) <= 0.25 * var1, (cross, var1, var2)


def test_bm25_persisted_matches_in_plan_and_survives_rebuild(spark):
    """The persisted BM25 index (r13) returns exactly the in-plan
    q_text_bm25 values (same tokenize, same exact-integer tf/df/dl/N —
    only a parquet round-trip of postings/df/stats in between), and an
    earlier persisted result still evaluates correctly AFTER a later
    call has built its own index (per-call index paths)."""
    from copy_databasetables_spark.operators import all_queries

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    pending = qs["q_text_bm25_persisted"](spark, sf)  # lazy
    later = qs["q_text_bm25_persisted"](spark, sf)
    expect = [tuple(r) for r in qs["q_text_bm25"](spark, sf).collect()]
    assert [tuple(r) for r in later.collect()] == expect
    assert [tuple(r) for r in pending.collect()] == expect


def test_bm25_index_contents_match_duckdb(spark, tmp_path):
    """The one-pass BM25 index build over sf0.001's documents plus a
    NULL-text, an empty-text and a one-token document: every term's
    postings ``df`` is DuckDB's ``COUNT(DISTINCT doc_id)`` (not only
    the query's terms), the postings are DuckDB's (term, doc, tf, dl)
    rows, and ``stats`` is ``COUNT(*)`` and
    ``CAST(SUM(dl) AS DOUBLE) / COUNT(*)`` bit for bit — the NULL-text
    document counted in neither."""
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from copy_databasetables_spark.operators.text import _bm25_index_build
    from tests.conftest import SF_SMOKE

    base = pq.read_table(f"{SF_SMOKE}/documents.parquet")
    extra = pa.table(
        {
            "doc_id": [10**9 + 1, 10**9 + 2, 10**9 + 3],
            "text": [None, "", "Solitary"],
            "lang": ["en"] * 3,
            "source": ["extra"] * 3,
            "n_chars": [0, 0, 8],
        },
        schema=base.schema,
    )
    docs = f"{tmp_path}/documents.parquet"
    pq.write_table(pa.concat_tables([base, extra]), docs)
    path = _bm25_index_build(spark, str(tmp_path))
    try:
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')"
        )
        con.execute(
            "CREATE VIEW tok AS SELECT doc_id, "
            "UNNEST(string_split(lower(text), ' ')) AS term FROM documents"
        )
        con.execute(
            "CREATE VIEW dl AS SELECT doc_id, COUNT(*) AS dl FROM tok "
            "GROUP BY doc_id"
        )
        postings = f"read_parquet('{path}/postings/*.parquet')"
        got_df = con.execute(
            f"SELECT DISTINCT term, df FROM {postings} ORDER BY ALL"
        ).fetchall()
        want_df = con.execute(
            "SELECT term, COUNT(DISTINCT doc_id) FROM tok GROUP BY term "
            "ORDER BY ALL"
        ).fetchall()
        assert got_df == want_df
        assert {"", "solitary"} <= {term for term, _ in got_df}
        got_post = con.execute(
            f"SELECT term, doc_id, tf, dl FROM {postings} ORDER BY ALL"
        ).fetchall()
        want_post = con.execute(
            "SELECT term, doc_id, COUNT(*), dl FROM tok JOIN dl USING (doc_id)"
            " GROUP BY term, doc_id, dl ORDER BY ALL"
        ).fetchall()
        assert got_post == want_post
        got_stats = con.execute(
            f"SELECT n_docs, avgdl FROM read_parquet('{path}/stats/*.parquet')"
        ).fetchall()
        want_stats = con.execute(
            "SELECT COUNT(*), CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM dl"
        ).fetchall()
        assert got_stats == want_stats
        assert got_stats[0][0] == base.num_rows - base["text"].null_count + 2
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_remove_top_pc_fast_matches_exact_within_tolerance(spark):
    """The BLAS bench twin must be the SAME transform minus the
    determinism quantization: identical row set (same vec_ids survive
    the zero-residual filter) and every field within 2e-6 of the
    exact operator (quantization steps are 1e-12/1e-9; rounding is
    6dp — disagreement beyond a couple of ulps at 6dp means the twin
    drifted, e.g. a different v1 or a wrong residual)."""
    from copy_databasetables_spark.operators import all_queries

    from tests.conftest import SF_SMOKE

    qs = all_queries()
    exact = {
        r["vec_id"]: r
        for r in qs["q_emb_remove_top_pc"](spark, SF_SMOKE).collect()
    }
    fast = {
        r["vec_id"]: r
        for r in qs["q_emb_remove_top_pc_fast"](spark, SF_SMOKE).collect()
    }
    assert set(fast) == set(exact)
    for vid, r in fast.items():
        e = exact[vid]
        for f in ("pc1_proj", "norm_before", "norm_after"):
            assert abs(r[f] - e[f]) <= 2e-6, (vid, f, r[f], e[f])


def test_substring_minimizer_winnowing_guarantee_and_density(spark):
    """q_dedup_substring_minimizer's contract vs the exact operator
    (VERDICT r12 item 5's recall pin): (a) the WINNOWING GUARANTEE —
    every pair of docs sharing a verbatim run of ≥ K+w−1 tokens
    (recomputed exactly, driver-side, from the raw text) has
    n_dup_sel ≥ 1 in BOTH docs; (b) selected spans are a genuine
    SAMPLE: per doc n_sel ≤ n_spans (exact op), and corpus-wide the
    selected fraction sits near the theoretical 2/(w+1) density
    (loose band — the lever that cuts shuffle volume); (c) no false
    content: a doc with zero duplicated spans under the EXACT op can
    never have a duplicated SELECTED span (selected ⊆ all spans)."""
    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators._helpers import _SPAN_K
    from copy_databasetables_spark.operators.dedup import _MINIMIZER_W
    from tests.conftest import SF_SMOKE

    qs = all_queries()
    exact = {
        r["doc_id"]: r for r in qs["q_dedup_substring"](spark, SF_SMOKE).collect()
    }
    mini = {
        r["doc_id"]: r
        for r in qs["q_dedup_substring_minimizer"](spark, SF_SMOKE).collect()
    }
    assert set(mini) == set(exact)

    # (a) ground-truth long shared runs, recomputed from raw text
    run_len = _SPAN_K + _MINIMIZER_W - 1
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .collect()
    }
    gram_docs: dict[tuple, set] = {}
    for did, toks in docs.items():
        for i in range(len(toks) - run_len + 1):
            gram_docs.setdefault(tuple(toks[i : i + run_len]), set()).add(did)
    must_hit = set()
    for ds in gram_docs.values():
        if len(ds) > 1:
            must_hit |= ds
    assert must_hit, "testdata has no shared >=K+w-1 runs; pin is vacuous"
    for did in must_hit:
        assert mini[did]["n_dup_sel"] >= 1, (did, mini[did])

    # (b) sampling density
    tot_sel = sum(r["n_sel"] for r in mini.values())
    tot_spans = sum(r["n_spans"] for r in exact.values())
    for did, r in mini.items():
        assert r["n_sel"] <= exact[did]["n_spans"], (did, r)
    frac = tot_sel / tot_spans
    lo, hi = 1.2 / (_MINIMIZER_W + 1), 3.2 / (_MINIMIZER_W + 1)
    assert lo <= frac <= hi, frac

    # (c) selected dups are a subset signal of exact dups
    for did, r in mini.items():
        if exact[did]["n_dup_spans"] == 0:
            assert r["n_dup_sel"] == 0, (did, r)


def test_pca_k_first_col_is_chain1_and_block_is_orthonormal(spark):
    """q_emb_pca_k's kill conditions (VERDICT r12 item 4's k=2 pin,
    adapted to what is mathematically pinnable on this corpus): (a)
    the block method's column 0 is BIT-IDENTICAL to the serial power
    iteration chain — GS never subtracts anything from column 0, so
    its rounds are the q_emb_top_eigvec arithmetic exactly; (b) at the
    op level, pc1 equals q_emb_pca2's pc1 for EVERY vector, exactly
    (same chain, same projection quantization); (c) the final k-column
    block is orthonormal to quantization tolerance — the invariant the
    per-round GS exists to maintain, and one serial deflation does NOT
    directly enforce. (Finite-iteration pc2 equality with pca2 is NOT
    pinnable: the synthetic spectrum is near-flat — λ₂/λ₁ ≈ 0.93,
    λ₃/λ₂ ≈ 0.96 measured — so 6-round block-GS and 6-round deflation
    iterates are different pinned approximations of the same limit;
    each is separately hash-pinned against its own mirrored oracle.)"""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import (
        _PCA_K,
        _block_pi_cols,
        _build_cov,
        _power_iteration,
    )
    from tests.conftest import SF_SMOKE

    C = _build_cov(spark, SF_SMOKE)
    (chain1,), _ = _power_iteration(C, 1)
    cols = _block_pi_cols(C, k=2)
    # (a) bit-identical, not approximately (r15: both are driver-side
    # numpy arrays in pos order — exact elementwise equality)
    assert list(cols[0]) == list(chain1)

    qs = all_queries()
    pca2 = {r["vec_id"]: r["pc1"] for r in qs["q_emb_pca2"](spark, SF_SMOKE).collect()}
    pk = {r["vec_id"]: r for r in qs["q_emb_pca_k"](spark, SF_SMOKE).collect()}
    assert set(pk) == set(pca2)
    for vid, r in pk.items():
        assert r["pc1"] == pca2[vid], (vid, r["pc1"], pca2[vid])  # (b)

    vecs = [list(v) for v in _block_pi_cols(C)]  # k = _PCA_K
    assert len(vecs) == _PCA_K
    for a in range(len(vecs)):
        for b in range(a, len(vecs)):
            dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            if a == b:
                assert abs(dot - 1.0) <= 1e-6, (a, dot)  # unit norm
            else:
                assert abs(dot) <= 1e-6, (a, b, dot)  # (c) orthogonal


def test_ivf_pq_rerank_rescores_exactly_within_cell(spark):
    """q_sim_ivf_pq_rerank's refine contract: (a) neighbors stay in
    the probe's cell; (b) the FINAL cosines are the EXACT
    full-precision cosines (recomputed in Python) — a refine stage
    that leaked PQ-decoded scores into the output would differ;
    (c) somewhere the refined ranking order or scores differ from the
    pure-PQ q_sim_ivf_pq row (rescoring must actually happen)."""
    import math

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import (
        _centroids,
        _ivf_assign,
        _vecs,
    )
    from tests.conftest import SF_SMOKE

    qs = all_queries()
    out = qs["q_sim_ivf_pq_rerank"](spark, SF_SMOKE).collect()
    assert out, "refined ivf_pq returned nothing"
    v = _vecs(spark, SF_SMOKE)
    cell = {
        r["vec_id"]: r["cid"]
        for r in _ivf_assign(v, _centroids(v)).collect()
    }
    vecs = {r["vec_id"]: r["e"] for r in v.collect()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    for r in out:
        assert cell[r["neighbor_id"]] == cell[r["probe_id"]]
        exact = cos(vecs[r["probe_id"]], vecs[r["neighbor_id"]])
        assert abs(r["cosine"] - exact) <= 6e-4, (r, exact)  # 4dp + ulp
    pq = {
        (r["probe_id"], r["rank_pos"]): (r["neighbor_id"], r["cosine"])
        for r in qs["q_sim_ivf_pq"](spark, SF_SMOKE).collect()
    }
    ref = {
        (r["probe_id"], r["rank_pos"]): (r["neighbor_id"], r["cosine"])
        for r in out
    }
    assert ref != pq, "refine output identical to pure PQ — no rescoring"


def test_ivf_assign_quantized_score_bit_identical_across_engines(spark):
    """The r14 map-side ``_ivf_assign`` rests on one claim (VERDICT r13
    item 2's determinism question): the centroid-affinity score —
    int-quantized dot ``floor((x·c)·1e6 + 0.5)`` summed, over the
    centroid norm — produces the SAME bits from (a) numpy inside the
    mapInPandas batches, (b) Spark's codegen HOF ``_qdot`` (the
    probe-side expression), and (c) DuckDB's ``_qd_sql`` mirror in
    every IVF oracle. Exact integer sums are order-independent, so no
    engine's batching/reordering can move them; this test pins all
    three pairwise, plus the Spark↔DuckDB bit-equality of the
    sequential-fold centroid norm the score divides by, and finally
    that the op-level assignment equals a brute-force numpy recompute
    (first-max = smallest cid on ties)."""
    import duckdb
    import numpy as np

    from copy_databasetables_spark.operators.similarity import (
        _centroids,
        _ivf_assign,
        _qd_sql,
        _qdot,
        _vecs,
    )
    from tests.conftest import SF_SMOKE

    v = _vecs(spark, SF_SMOKE)
    c = _centroids(v)
    cent = sorted(c.collect(), key=lambda r: r["cid"])
    cids = np.array([r["cid"] for r in cent], dtype=np.int64)
    cm = np.array([list(r["ce"]) for r in cent], dtype=np.float64)
    cns = np.array([r["cn"] for r in cent], dtype=np.float64)

    # (a)↔(b): Spark HOF qdot vs numpy fold, all (sample vec × centroid)
    sample = v.orderBy("vec_id").limit(20)
    hof = (
        sample.crossJoin(F.broadcast(c))
        .select("vec_id", "cid", _qdot("e", "ce").alias("qd"))
        .collect()
    )
    vecs = {r["vec_id"]: np.array(list(r["e"])) for r in sample.collect()}
    cmap = {r["cid"]: np.array(list(r["ce"])) for r in cent}
    for r in hof:
        want = (
            np.floor((vecs[r["vec_id"]] * cmap[r["cid"]]) * 1000000.0 + 0.5)
            .astype(np.int64)
            .sum()
        )
        assert int(r["qd"]) == int(want), (r["vec_id"], r["cid"])

    # (b)↔(c): DuckDB mirror emits the same integers and the same cn bits
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMOKE}/embeddings.parquet')"
    )
    ddb = con.execute(
        f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
                   WHERE list_aggregate(list_transform(embedding::DOUBLE[],
                         x -> x * x), 'sum') > 0),
        c AS (SELECT vec_id AS cid, e AS ce,
                     sqrt(list_aggregate(list_transform(e, x -> x * x),
                          'sum')) AS cn
              FROM v WHERE vec_id % 50 = 7 ORDER BY vec_id LIMIT 32),
        s AS (SELECT * FROM v ORDER BY vec_id LIMIT 20)
        SELECT s.vec_id, c.cid, {_qd_sql("s.e", "c.ce")} AS qd, c.cn
        FROM s CROSS JOIN c
        """
    ).fetchall()
    spark_qd = {(r["vec_id"], r["cid"]): int(r["qd"]) for r in hof}
    cn_by_cid = {int(cid): cn for cid, cn in zip(cids, cns)}
    assert len(ddb) == len(spark_qd)
    for vid, cid, qd, cn in ddb:
        assert int(qd) == spark_qd[(vid, cid)], (vid, cid)
        assert cn == cn_by_cid[int(cid)], cid  # bit-equal, not approx

    # op level: mapInPandas assignment == brute-force numpy recompute
    got = {r["vec_id"]: r["cid"] for r in _ivf_assign(v, c).collect()}
    for r in v.select("vec_id", "e").collect():
        x = np.array(list(r["e"]))
        qd = np.floor((x[None, :] * cm) * 1000000.0 + 0.5).astype(np.int64)
        best = int(np.argmax(qd.sum(axis=1).astype(np.float64) / cns))
        assert got[r["vec_id"]] == int(cids[best]), r["vec_id"]


def test_ivf_pq_multiprobe_expands_reach_monotonically(spark):
    """q_sim_ivf_pq_multiprobe's kill conditions: (a) every neighbor
    lies in one of its probe's _NPROBE nearest cells (recomputed from
    the production assignment helper + the same quantized affinity);
    (b) per probe, the result set is a superset-or-equal REACH of
    nprobe=1: every nprobe=1 neighbor either reappears or is displaced
    by a strictly better-scoring candidate — pinned via top-k cosine
    sums (multiprobe's per-probe kth cosine >= nprobe=1's, since its
    candidate pool is a superset); (c) ranks contiguous from 1."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import (
        _NPROBE,
        _cent_affinity,
        _centroids,
        _ivf_assign,
        _vecs,
    )
    from tests.conftest import SF_SMOKE

    qs = all_queries()
    multi = qs["q_sim_ivf_pq_multiprobe"](spark, SF_SMOKE).collect()
    single = qs["q_sim_ivf_pq"](spark, SF_SMOKE).collect()
    assert multi, "multiprobe returned nothing"

    v = _vecs(spark, SF_SMOKE)
    c = _centroids(v)
    cell = {
        r["vec_id"]: r["cid"] for r in _ivf_assign(v, c).collect()
    }
    # probe -> its _NPROBE nearest cells via the shared quantized score
    pw = Window.partitionBy("vec_id").orderBy(
        F.col("aff").desc(), F.col("cid").asc()
    )
    pcells: dict = {}
    for r in (
        v.crossJoin(F.broadcast(c))
        .withColumn("aff", _cent_affinity("e"))
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= _NPROBE)
        .select("vec_id", "cid")
        .collect()
    ):
        pcells.setdefault(r["vec_id"], set()).add(r["cid"])

    per_probe: dict = {}
    for r in multi:
        assert cell[r["neighbor_id"]] in pcells[r["probe_id"]], (
            "neighbor outside the probe's nprobe cells"
        )
        per_probe.setdefault(r["probe_id"], []).append(
            (r["rank_pos"], r["cosine"])
        )
    for pid, rows in per_probe.items():
        ranks = sorted(rk for rk, _ in rows)
        assert ranks == list(range(1, len(ranks) + 1)), pid
    # (b) kth-cosine monotonicity vs nprobe=1
    s1: dict = {}
    for r in single:
        s1.setdefault(r["probe_id"], []).append(r["cosine"])
    for pid, cosines in s1.items():
        m = sorted((c_ for _, c_ in per_probe[pid]), reverse=True)
        s = sorted(cosines, reverse=True)
        for k in range(min(len(m), len(s))):
            assert m[k] >= s[k], (pid, k)


def test_countmin_merges_exactly_and_never_undercounts(spark):
    """q_agg_countmin's kill conditions: (a) cell-wise merge
    associativity — the per-day sketch table summed over days equals
    the single-pass global sketch (deterministic integers, so EXACT
    equality); (b) est >= exact for EVERY distinct key (CM's one-sided
    guarantee — hash collisions only add); (c) the op's probe rows
    agree with a brute-force recompute of min-over-rows lookups."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.aggregates import (
        _CM_D,
        _CM_H_SPARK,
    )
    from copy_databasetables_spark.io import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    jb = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.expr(_CM_H_SPARK.format(j=j)).alias("bucket"),
            )
            for j in range(_CM_D)
        ]
    )
    cells = ev.select("day", F.explode(jb).alias("jb")).select(
        "day", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    )
    daily_merged = {
        (r["j"], r["bucket"]): r["c"]
        for r in cells.groupBy("day", "j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("j", "bucket")
        .agg(F.sum("c").alias("c"))
        .collect()
    }
    direct = {
        (r["j"], r["bucket"]): r["c"]
        for r in cells.groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert daily_merged == direct  # (a) exact, not approximate

    exact = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    buckets = {
        (r["user_id"], r["j"]): r["bucket"]
        for r in ev.select("user_id").distinct().select(
            "user_id", F.explode(jb).alias("jb")
        ).select(
            "user_id", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
        ).collect()
    }
    for uid, n in exact.items():
        est = min(
            direct[(j, buckets[(uid, j)])] for j in range(_CM_D)
        )
        assert est >= n, uid  # (b)

    out = all_queries()["q_agg_countmin"](spark, SF_SMOKE).collect()
    assert out
    for r in out:
        est = min(
            direct[(j, buckets[(r["user_id"], j)])] for j in range(_CM_D)
        )
        assert r["est_count"] == est and r["exact_count"] == exact[r["user_id"]]
        assert r["never_undercounts"] is True


def test_text_entropy_matches_python_recompute(spark):
    """q_text_entropy's kill condition: the emitted entropy equals an
    independent Python recompute of the exact pipeline — house
    tokenization, int64-quantized c·ln(c) contributions, ln(n) −
    Σ/n, 6dp round — for every document; and a degenerate
    all-same-token document scores exactly 0 (checked on any doc with
    n_types == 1, plus the formula identity on a synthetic count)."""
    import math
    from collections import Counter

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.text import _ENT_SCALE
    from copy_databasetables_spark.io import load_table
    from tests.conftest import SF_SMOKE

    out = {
        r["doc_id"]: r
        for r in all_queries()["q_text_entropy"](spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    assert len(out) == len(docs)
    for r in docs:
        toks = r["text"].lower().split(" ")
        counts = Counter(toks)
        n = sum(counts.values())
        slc_q = sum(
            math.floor(c * math.log(c) * float(_ENT_SCALE) + 0.5)
            for c in counts.values()
        )
        want = round(math.log(n) - (slc_q / float(_ENT_SCALE)) / n, 6)
        got = out[r["doc_id"]]
        assert got["n_tokens"] == n and got["n_types"] == len(counts)
        assert abs(got["entropy_nats"] - want) < 1e-9, r["doc_id"]
    # formula identity: all-same-token doc => slc_q = floor(n*ln(n)*S+.5)
    # and entropy rounds to 0 (ln(n) - n*ln(n)/n)
    n = 37
    slc_q = math.floor(n * math.log(n) * float(_ENT_SCALE) + 0.5)
    assert round(math.log(n) - (slc_q / float(_ENT_SCALE)) / n, 6) == 0.0


def test_phash_blocking_is_exact_and_collapses_first(spark):
    """q_multimodal_phash's kill conditions: (a) the pigeonhole-blocked
    value-pair set EQUALS brute-force all-pairs over distinct hashes
    with hamming <= tau (blocking is a pure optimization — 4 disjoint
    4-bit blocks cover any <=3-bit difference); (b) group stats carry
    the exact-dup collapse (n_docs sums to the corpus size over the
    value table); (c) hamming is the true popcount of the xor."""
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.multimodal import (
        _PHASH_TAU,
        _ppm_dhash,
        _ppm_encode,
    )
    from copy_databasetables_spark.io import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id")
    fp = docs.mapInPandas(
        _ppm_encode, schema="doc_id bigint, payload binary"
    ).mapInPandas(_ppm_dhash, schema="doc_id bigint, phash bigint")
    rows = fp.collect()
    n_docs_total = len(rows)
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["phash"], []).append(r["doc_id"])
    brute = {
        (a, b): bin(a ^ b).count("1")
        for i, a in enumerate(sorted(groups))
        for b in sorted(groups)[i + 1 :]
        if bin(a ^ b).count("1") <= _PHASH_TAU
    }
    out = all_queries()["q_multimodal_phash"](spark, SF_SMOKE).collect()
    got = {(r["ph_a"], r["ph_b"]): r["hamming"] for r in out}
    assert got == brute  # (a) + (c): no missed pair, no phantom pair
    assert sum(len(v) for v in groups.values()) == n_docs_total
    for r in out:  # (b) group stats are the collapse, verified per row
        assert r["n_docs_a"] == len(groups[r["ph_a"]])
        assert r["min_doc_a"] == min(groups[r["ph_a"]])
        assert r["n_docs_b"] == len(groups[r["ph_b"]])
        assert r["min_doc_b"] == min(groups[r["ph_b"]])


def test_lm_bigram_matches_python_recompute(spark):
    """q_text_lm_bigram's kill condition: per-doc surprisal equals an
    independent Python recompute of the whole pipeline — in-row
    bigrams, add-k bigram LM trained on the corpus (left-context
    totals derived from the bigram counts, V = distinct unigrams),
    int64-quantized log contributions, 6dp round — for every doc
    (tolerance: ONE 6dp rounding quantum, because Python's libm ln and
    the JVM's Math.log differ in the last ulp and a single quantized
    term can straddle a floor/round boundary — the documented accepted
    class; any semantic mutation moves values orders beyond 1e-6)."""
    import math
    from collections import Counter

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.text import _LM2_K
    from copy_databasetables_spark.io import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    c12: Counter = Counter()
    vocab = set()
    doc_bgs = {}
    for r in docs:
        toks = r["text"].split(" ")
        vocab.update(toks)
        bgs = [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]
        doc_bgs[r["doc_id"]] = bgs
        c12.update(bgs)
    c1: Counter = Counter()
    for bg_key, n in c12.items():
        c1[bg_key.split(" ")[0]] += n
    v_sz, k = float(len(vocab)), float(_LM2_K)

    out = {
        r["doc_id"]: r
        for r in all_queries()["q_text_lm_bigram"](spark, SF_SMOKE).collect()
    }
    assert len(out) == sum(1 for bgs in doc_bgs.values() if bgs)
    for did, bgs in doc_bgs.items():
        if not bgs:
            assert did not in out
            continue
        slq = 0
        for bg_key in bgs:
            p = (c12[bg_key] + k) / (c1[bg_key.split(" ")[0]] + k * v_sz)
            slq += math.floor(math.log(p) * 1000000.0 + 0.5)
        want = round(-(slq / 1000000.0) / len(bgs), 6)
        got = out[did]
        assert got["n_bigrams"] == len(bgs), did
        assert abs(got["surprisal_bigram"] - want) <= 1.0000001e-6, did


def test_ivf_recall_counts_true_overlap(spark):
    """q_sim_ivf_recall's kill conditions: (a) n_hit equals the true
    |ivf∩exact| recomputed from the production q_sim_ivf output and a
    Python brute-force exact top-k; (b) n_hit <= n_exact and recall is
    exactly their 4dp ratio; (c) n_exact == _IVF_K whenever the corpus
    offers at least that many candidates."""
    import math

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import _IVF_K, _vecs
    from tests.conftest import SF_SMOKE

    qs = all_queries()
    out = {r["probe_id"]: r for r in qs["q_sim_ivf_recall"](spark, SF_SMOKE).collect()}
    assert out
    ivf: dict = {}
    for r in qs["q_sim_ivf"](spark, SF_SMOKE).collect():
        ivf.setdefault(r["probe_id"], set()).add(r["neighbor_id"])

    vecs = {
        r["vec_id"]: (r["e"], r["nrm"])
        for r in _vecs(spark, SF_SMOKE).collect()
    }
    n_corpus = len(vecs)
    for pid, row in out.items():
        pe, pn = vecs[pid]
        scored = sorted(
            (
                (-sum(x * y for x, y in zip(pe, e)) / (pn * nn), nid)
                for nid, (e, nn) in vecs.items()
                if nid != pid
            ),
        )[:_IVF_K]
        exact = {nid for _, nid in scored}
        hits = len(exact & ivf.get(pid, set()))
        assert row["n_hit"] == hits, pid
        assert row["n_exact"] == min(_IVF_K, n_corpus - 1)
        assert row["n_hit"] <= row["n_exact"]
        assert math.isclose(
            row["recall"], round(hits / row["n_exact"], 4), abs_tol=1e-9
        )


def test_drift_psi_matches_recompute_and_parity_split_shows_no_drift(spark):
    """q_emb_drift_psi's kill conditions: (a) every bin row equals an
    independent Python recompute (fixed edges, clamp, Laplace add-1,
    PSI term) from the raw vectors; (b) counts partition the corpus
    (Σ n_ref + Σ n_cur = |v|); (c) the vec_id-parity split of an
    i.i.d. corpus is NOT drifted: Σ psi_term < 0.1, the conventional
    no-drift threshold — a binning or smoothing bug that skews one
    side inflates the total and trips this."""
    import math

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import (
        _PSI_BINS,
        _PSI_LO,
        _PSI_STEP,
        _vecs,
    )
    from tests.conftest import SF_SMOKE

    rows = _vecs(spark, SF_SMOKE).select("vec_id", "e").collect()
    n_ref = [0] * _PSI_BINS
    n_cur = [0] * _PSI_BINS
    for r in rows:
        b = int(math.floor((r["e"][0] - _PSI_LO) / _PSI_STEP))
        b = min(max(b, 0), _PSI_BINS - 1)
        (n_ref if r["vec_id"] % 2 == 0 else n_cur)[b] += 1
    t_ref, t_cur = float(sum(n_ref)), float(sum(n_cur))

    out = {r["bin"]: r for r in all_queries()["q_emb_drift_psi"](spark, SF_SMOKE).collect()}
    assert sum(r["n_ref"] + r["n_cur"] for r in out.values()) == len(rows)
    total = 0.0
    for b in range(_PSI_BINS):
        if n_ref[b] == 0 and n_cur[b] == 0:
            assert b not in out
            continue
        pr = (n_ref[b] + 1) / (t_ref + _PSI_BINS)
        pc = (n_cur[b] + 1) / (t_cur + _PSI_BINS)
        term = round((pc - pr) * math.log(pc / pr), 6)
        got = out[b]
        assert got["n_ref"] == n_ref[b] and got["n_cur"] == n_cur[b], b
        assert abs(got["psi_term"] - term) <= 1.0000001e-6, b
        total += got["psi_term"]
    assert total < 0.1, total  # parity split of i.i.d. vectors: no drift


def test_binary_hamming_matches_numpy_recompute(spark):
    """q_sim_binary_hamming's kill conditions: (a) every output row
    equals an independent numpy recompute of the full path — sign-bit
    packing, integer Hamming candidate ranking (vec_id tie-break),
    exact-cosine rerank — from the raw vectors; (b) hamming is the
    true popcount of the sign-bit disagreement (so a packing bug in
    EITHER 32-bit half trips it); (c) measured recall@k vs the exact
    brute-force top-k clears the 0.4 floor (0.6 measured on entry) —
    a sketch that degrades to chance (~k/n) fails loudly."""
    import numpy as np

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import (
        _BQ_RERANK_R,
        _K,
        _vecs,
    )
    from tests.conftest import SF_SMOKE

    rows = _vecs(spark, SF_SMOKE).select("vec_id", "e").collect()
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["e"] for r in rows])
    nrm = np.linalg.norm(E, axis=1)
    bits = E > 0

    expected = {}
    rec_hits = rec_tot = 0
    for pi in np.where(ids % 50 == 0)[0]:
        ham = (bits != bits[pi]).sum(axis=1)
        ham[pi] = 10**9  # self excluded
        cand = np.lexsort((ids, ham))[:_BQ_RERANK_R]
        cos = (E[cand] @ E[pi]) / (nrm[cand] * nrm[pi])
        rer = cand[np.lexsort((ids[cand], -cos))][:_K]
        for rank, ni in enumerate(rer, start=1):
            c = float(E[ni] @ E[pi] / (nrm[ni] * nrm[pi]))
            expected[(int(ids[pi]), int(ids[ni]))] = (
                int(ham[ni]),
                round(c, 4),
                rank,
            )
        ce = (E @ E[pi]) / (nrm * nrm[pi])
        ce[pi] = -2.0
        exact = set(ids[np.lexsort((ids, -ce))[:_K]])
        rec_hits += len(exact & {int(ids[n]) for n in rer})
        rec_tot += _K

    out = all_queries()["q_sim_binary_hamming"](spark, SF_SMOKE).collect()
    assert len(out) == len(expected)
    for r in out:
        h, c, rank = expected[(r["probe_id"], r["neighbor_id"])]
        assert r["hamming"] == h, r
        assert abs(r["cosine"] - c) <= 1.0000001e-4, r
        assert r["rank_pos"] == rank, r
    assert rec_hits / rec_tot >= 0.4, rec_hits / rec_tot


def test_mrl_recall_counts_true_truncation_overlap(spark):
    """q_emb_mrl_recall's kill conditions: (a) n_hit equals the true
    |trunc-topk ∩ full-topk| recomputed in numpy from the raw vectors
    (prefix slice, both rankings, vec_id tie-breaks); (b) n_exact is
    min(_K, corpus-1) for every probe; (c) recall is exactly the 4dp
    ratio. A slice off-by-one (17 or 31 dims), a norm computed over
    the wrong slice, or a tie-break flip all move some probe's n_hit."""
    import math

    import numpy as np

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import (
        _K,
        _MRL_DIM,
        _vecs,
    )
    from tests.conftest import SF_SMOKE

    rows = _vecs(spark, SF_SMOKE).select("vec_id", "e").collect()
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["e"] for r in rows])
    nrm = np.linalg.norm(E, axis=1)
    T = E[:, :_MRL_DIM]
    tn = np.linalg.norm(T, axis=1)

    expected = {}
    for pi in np.where(ids % 50 == 0)[0]:
        ce = (E @ E[pi]) / (nrm * nrm[pi])
        ce[pi] = -2.0
        full = set(ids[np.lexsort((ids, -ce))[:_K]])
        ct = (T @ T[pi]) / (tn * tn[pi])
        ct[pi] = -2.0
        trunc = set(ids[np.lexsort((ids, -ct))[:_K]])
        expected[int(ids[pi])] = len(full & trunc)

    out = all_queries()["q_emb_mrl_recall"](spark, SF_SMOKE).collect()
    assert {r["probe_id"] for r in out} == set(expected)
    n_corpus = len(ids)
    for r in out:
        assert r["n_hit"] == expected[r["probe_id"]], r
        assert r["n_exact"] == min(_K, n_corpus - 1)
        assert math.isclose(
            r["recall"], round(r["n_hit"] / r["n_exact"], 4), abs_tol=1e-9
        )


def test_sample_epochs_matches_python_recompute(spark):
    """q_sample_epochs' kill conditions: (a) every (doc_id, epoch) row
    equals a from-scratch Python recompute of the whole rule — token
    counts, tokens^alpha factor, floor/threshold split, portable md5
    hash — so a factor bug, a hash-fold bug, or an off-by-one in the
    epoch sequence all trip it; (b) epochs for a doc are exactly
    1..n_copies; (c) the realized per-source row share tracks the
    q_mixture_weights target weight (the semantic the op exists to
    execute) within 5 percentage points."""
    import hashlib
    from collections import Counter

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.pipeline import (
        _EPOCH_GRAN,
        _MIX_ALPHA,
    )
    from tests.conftest import SF_SMOKE

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "source", "text")
        .collect()
    )
    tokens = Counter()
    for r in docs:
        tokens[r["source"]] += len(r["text"].split(" "))
    raw_tot = sum(t**_MIX_ALPHA for t in tokens.values())
    tok_tot = sum(tokens.values())
    ff = {}
    for s, t in tokens.items():
        factor = (t**_MIX_ALPHA / raw_tot) / (t / tok_tot)
        base = int(factor)
        thresh = int((factor - base) * _EPOCH_GRAN + 0.5)
        ff[s] = (base, thresh)

    expected = {}
    for r in docs:
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16)
        base, thresh = ff[r["source"]]
        n = base + (1 if h % _EPOCH_GRAN < thresh else 0)
        if n > 0:
            expected[r["doc_id"]] = (r["source"], n)

    out = all_queries()["q_sample_epochs"](spark, SF_SMOKE).collect()
    got: dict = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append(r)
    assert set(got) == set(expected)
    realized = Counter()
    for did, rows in got.items():
        src, n = expected[did]
        assert {r["epoch"] for r in rows} == set(range(1, n + 1)), did
        assert all(r["n_copies"] == n and r["source"] == src for r in rows)
        realized[src] += n
    total = sum(realized.values())
    for s, t in tokens.items():
        weight = (t**_MIX_ALPHA / raw_tot)
        assert abs(realized[s] / total - weight) < 0.05, s


def test_collocations_match_python_pmi_recompute(spark):
    """q_text_collocations' kill conditions: (a) the emitted top-N set
    and every count equal a from-scratch Python recompute (bigram and
    unigram counts, min-count cut, integer rank key with the full
    tie-break chain); (b) pmi equals ln(n_ab·N²/(B·n_a·n_b)) at 6dp;
    (c) the integer rank-key ordering agrees with true-PMI ordering on
    the emitted rows (the rank key is a coarsening — verify it did not
    reorder the cut)."""
    import math
    from collections import Counter

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.text import (
        _PMI_MIN,
        _PMI_SCALE,
        _PMI_TOPN,
    )
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select("text").collect()
    uni: Counter = Counter()
    c12: Counter = Counter()
    for r in docs:
        toks = r["text"].split(" ")
        uni.update(toks)
        c12.update(zip(toks, toks[1:]))
    n_tok = sum(uni.values())
    n_bg = sum(c12.values())
    cands = [
        (
            -((n_ab * _PMI_SCALE) // (uni[w1] * uni[w2])),
            -n_ab,
            w1,
            w2,
        )
        for (w1, w2), n_ab in c12.items()
        if n_ab >= _PMI_MIN
    ]
    cands.sort()
    top = cands[:_PMI_TOPN]

    out = all_queries()["q_text_collocations"](spark, SF_SMOKE).collect()
    assert len(out) == min(_PMI_TOPN, len(cands))
    got = {(r["w1"], r["w2"]): r for r in out}
    assert set(got) == {(w1, w2) for _, _, w1, w2 in top}
    for _, _, w1, w2 in top:
        r = got[(w1, w2)]
        n_ab = c12[(w1, w2)]
        assert r["n_ab"] == n_ab and r["n_a"] == uni[w1] and r["n_b"] == uni[w2]
        pmi = math.log(n_ab * n_tok * n_tok / (n_bg * uni[w1] * uni[w2]))
        assert abs(r["pmi"] - round(pmi, 6)) <= 1.0000001e-6, (w1, w2)
    # (c) coarsened-key order vs true-PMI order on the emitted rows
    true_sorted = sorted(top, key=lambda t: (t[0], t[1], t[2], t[3]))
    assert true_sorted == top


def test_agg_moments_match_numpy_recompute_and_merge(spark):
    """q_agg_moments' kill conditions: (a) every group's mean/var/skew/
    excess-kurtosis/correlation equals a from-scratch numpy recompute
    on the raw rows at 6dp; (b) MERGEABILITY — power sums computed on
    two arbitrary row halves add to the whole-group statistic (the
    roll-up contract the op exists for); (c) kurtosis is the EXCESS
    convention (normal ≈ 0), pinned by recomputing m4/m2²−3, so a
    silent switch to plain kurtosis (−3 dropped) trips."""
    import numpy as np

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    )
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["l_returnflag"], []).append(
            (r["l_quantity"], r["l_extendedprice"])
        )

    out = {r["l_returnflag"]: r for r in
           all_queries()["q_agg_moments"](spark, SF_SMOKE).collect()}
    assert set(out) == set(groups)
    for flag, pairs in groups.items():
        x = np.array([p[0] for p in pairs])
        y = np.array([p[1] for p in pairs])
        n = len(x)
        mu = x.mean()
        m2 = ((x - mu) ** 2).mean()
        m3 = ((x - mu) ** 3).mean()
        m4 = ((x - mu) ** 4).mean()
        r = out[flag]
        assert r["n_rows"] == n
        assert abs(r["mean_qty"] - mu) <= 2e-6, flag
        assert abs(r["var_qty"] - m2) <= 2e-5, flag
        assert abs(r["skew_qty"] - m3 / m2**1.5) <= 2e-5, flag
        assert abs(r["kurt_qty"] - (m4 / m2**2 - 3.0)) <= 2e-5, flag
        corr = np.corrcoef(x, y)[0, 1]
        assert abs(r["corr_price_qty"] - corr) <= 2e-5, flag
        # (b) merge: sums over halves add exactly to the whole
        half = n // 2
        for p in range(1, 5):
            whole = (x**p).sum()
            assert (x[:half] ** p).sum() + (x[half:] ** p).sum() == whole


def test_wav_vad_segments_match_python_rle(spark):
    """q_multimodal_wav_vad's kill conditions: (a) every segment equals
    an independent Python recompute from the generative ramp —
    quantized frame RMS, threshold, run-length encoding with 0-based
    per-doc seg_idx; (b) segments within a doc are disjoint, ordered,
    and separated by at least one unvoiced frame (a run-split
    off-by-one merges or splits a segment and trips this); (c) every
    segment's peak_rms clears the threshold."""
    import numpy as np

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.multimodal import (
        _FRAME,
        _VAD_TAU,
    )
    from tests.conftest import SF_SMOKE

    out: dict = {}
    for r in all_queries()["q_multimodal_wav_vad"](spark, SF_SMOKE).collect():
        out.setdefault(r["doc_id"], []).append(r)

    from copy_databasetables_spark.io import load_table

    doc_ids = [
        r["doc_id"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id")
        .collect()
    ]
    expected_total = 0
    for doc_id in doc_ids:
        n = 64 + (doc_id % 37) * 8
        i = np.arange((n // _FRAME) * _FRAME)
        v = (doc_id * 13 + 5 * i) % 4096 - 2048
        fr = v.astype(np.float64).reshape(-1, _FRAME)
        rms = np.floor(np.sqrt((fr * fr).mean(axis=1)) * 10_000 + 0.5) / 10_000
        voiced = np.flatnonzero(rms >= _VAD_TAU)
        runs = (
            np.split(voiced, np.flatnonzero(np.diff(voiced) > 1) + 1)
            if voiced.size
            else []
        )
        expected_total += len(runs)
        got = sorted(out.get(doc_id, []), key=lambda r: r["seg_idx"])
        assert len(got) == len(runs), doc_id
        for seg_idx, (run, r) in enumerate(zip(runs, got)):
            assert r["seg_idx"] == seg_idx
            assert r["start_frame"] == run[0] and r["end_frame"] == run[-1]
            assert r["n_frames"] == len(run)
            assert abs(r["peak_rms"] - rms[run].max()) < 1e-12
            assert r["peak_rms"] >= _VAD_TAU
        for a, b in zip(got, got[1:]):
            assert b["start_frame"] > a["end_frame"] + 1  # gap >= 1 frame
    assert sum(len(v) for v in out.values()) == expected_total


def test_ts_ewma_matches_python_sequential_fold(spark):
    """q_ts_ewma's kill conditions: (a) every user's state equals a
    Python recompute — hourly bucket means in time order folded through
    s_t = α·x_t + β·s_{t−1} — to full double precision (the fold must
    be bit-identical, not approximately right: the entry bug where the
    seed took the SECOND bucket moved only the 6th decimal and only
    for 2 of 15 users, exactly the class this pins); (b) n_buckets
    and last_bucket_us match; (c) a single-bucket user's state is the
    bucket mean itself (seed path)."""
    from collections import defaultdict
    from datetime import timezone

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.timeseries import (
        _EWMA_ALPHA,
        _EWMA_BETA,
    )
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("value IS NOT NULL")
        .select("user_id", "ts", "value")
        .collect()
    )
    buckets: dict = defaultdict(lambda: defaultdict(list))
    for r in rows:
        t = r["ts"].replace(minute=0, second=0, microsecond=0)
        us = int(t.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
        buckets[r["user_id"]][us].append(r["value"])

    out = {r["user_id"]: r for r in
           all_queries()["q_ts_ewma"](spark, SF_SMOKE).collect()}
    assert set(out) == set(buckets)
    for uid, bs in buckets.items():
        keys = sorted(bs)
        xs = [sum(bs[k]) / len(bs[k]) for k in keys]
        s = xs[0]
        for v in xs[1:]:
            s = _EWMA_ALPHA * v + _EWMA_BETA * s
        r = out[uid]
        assert r["n_buckets"] == len(keys), uid
        assert r["last_bucket_us"] == keys[-1], uid
        assert abs(r["ewma"] - round(s, 6)) <= 1.0000001e-6, uid


def test_centroid_classify_matches_numpy_recompute(spark):
    """q_emb_centroid_classify's kill conditions: (a) every vector's
    predicted label, cosine, and correct flag equal a numpy recompute
    of the full path — quantized per-label centroid means (the 6dp
    grid), cosine argmax with lowest-label tie-keep; (b) the argmax
    fold agrees with an explicit sort over all L centroid scores; (c)
    predictions cover every vector exactly once."""
    import numpy as np

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import _vecs
    from tests.conftest import SF_SMOKE

    rows = _vecs(spark, SF_SMOKE).select("vec_id", "label", "e").collect()
    ids = np.array([r["vec_id"] for r in rows])
    labels = np.array([r["label"] for r in rows])
    E = np.array([r["e"] for r in rows])
    cents = {}
    for lab in np.unique(labels):
        m = E[labels == lab]
        q = np.floor(m * 1e6 + 0.5).sum(axis=0)
        cents[int(lab)] = np.round(q / (1e6 * len(m)), 6)
    labs = sorted(cents)
    C = np.array([cents[lab] for lab in labs])
    cn = np.linalg.norm(C, axis=1)
    nrm = np.linalg.norm(E, axis=1)

    out = {r["vec_id"]: r for r in
           all_queries()["q_emb_centroid_classify"](spark, SF_SMOKE).collect()}
    assert set(out) == set(int(i) for i in ids)
    for k in range(len(ids)):
        cos = (C @ E[k]) / (cn * nrm[k])
        best = min(range(len(labs)), key=lambda j: (-cos[j], labs[j]))
        r = out[int(ids[k])]
        assert r["pred_label"] == labs[best], ids[k]
        assert abs(r["cosine"] - round(float(cos[best]), 4)) <= 1.1e-4
        assert r["correct"] == (labs[best] == labels[k])
        assert r["true_label"] == labels[k]


def test_events_transitions_match_python_recompute(spark):
    """q_events_transitions' kill conditions: (a) every transition's
    count equals a Python recompute that orders each user's events by
    (ts, event_id) and counts adjacent type pairs — an ordering bug, a
    cross-user pairing leak, or a dropped last-event boundary all move
    counts; (b) Σ n_ab per prev_type equals n_prev and prob is the
    exact 6dp ratio; (c) Σ all n_ab = total events − number of users
    (each user contributes exactly len−1 transitions)."""
    from collections import Counter, defaultdict

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    pairs: Counter = Counter()
    for seq in by_user.values():
        seq.sort()
        for (a, b) in zip(seq, seq[1:]):
            pairs[(a[2], b[2])] += 1

    out = all_queries()["q_events_transitions"](spark, SF_SMOKE).collect()
    assert {(r["prev_type"], r["next_type"]) for r in out} == set(pairs)
    n_prev: Counter = Counter()
    for (a, _), n in pairs.items():
        n_prev[a] += n
    for r in out:
        key = (r["prev_type"], r["next_type"])
        assert r["n_ab"] == pairs[key], key
        assert r["n_prev"] == n_prev[key[0]], key
        assert abs(r["prob"] - round(r["n_ab"] / r["n_prev"], 6)) <= 1e-9
    assert sum(pairs.values()) == len(rows) - len(by_user)


def test_binary_recall_counts_true_overlap(spark):
    """q_sim_binary_recall's kill conditions: (a) n_hit equals the true
    |sketch-topk ∩ exact-topk| recomputed from the production
    q_sim_binary_hamming output and a numpy exact top-k; (b) n_exact is
    min(_K, corpus−1); (c) recall is the exact 4dp ratio and the mean
    recall matches the sketch's entry measurement (≥0.4 floor)."""
    import math

    import numpy as np

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import _K, _vecs
    from tests.conftest import SF_SMOKE

    qs = all_queries()
    sketch: dict = {}
    for r in qs["q_sim_binary_hamming"](spark, SF_SMOKE).collect():
        sketch.setdefault(r["probe_id"], set()).add(r["neighbor_id"])

    rows = _vecs(spark, SF_SMOKE).select("vec_id", "e").collect()
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["e"] for r in rows])
    nrm = np.linalg.norm(E, axis=1)

    out = {r["probe_id"]: r for r in
           qs["q_sim_binary_recall"](spark, SF_SMOKE).collect()}
    assert set(out) == set(sketch)
    total_hit = total = 0
    for pid, row in out.items():
        pi = int(np.where(ids == pid)[0][0])
        ce = (E @ E[pi]) / (nrm * nrm[pi])
        ce[pi] = -2.0
        exact = set(int(i) for i in ids[np.lexsort((ids, -ce))[:_K]])
        hits = len(exact & sketch[pid])
        assert row["n_hit"] == hits, pid
        assert row["n_exact"] == min(_K, len(ids) - 1)
        assert math.isclose(
            row["recall"], round(hits / row["n_exact"], 4), abs_tol=1e-9
        )
        total_hit += hits
        total += row["n_exact"]
    assert total_hit / total >= 0.4


def test_events_attribution_matches_python_recompute(spark):
    """q_events_attribution's kill conditions: (a) every purchase's
    channel equals a Python recompute that sorts each user's filtered
    events by (ts, is_conv, event_id) and carries the last touch type
    forward — an ordering bug, a cross-user leak, or a dropped
    unattributed bucket all move the per-channel counts; (b) per-channel
    revenue equals the exact cent-level sum (value has 2dp, so summing
    scaled integers is exact); (c) Σ conversions over channels equals
    the total purchase count."""
    from collections import Counter, defaultdict

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type in ('click','view','purchase')")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        is_conv = 1 if r["event_type"] == "purchase" else 0
        by_user[r["user_id"]].append(
            (r["ts"], is_conv, r["event_id"], r["event_type"], r["value"])
        )
    n_purchases = 0
    counts: Counter = Counter()
    cents: Counter = Counter()
    for seq in by_user.values():
        seq.sort(key=lambda t: t[:3])
        channel = None
        for (_, is_conv, _, etype, value) in seq:
            if is_conv:
                ch = channel if channel is not None else "unattributed"
                counts[ch] += 1
                cents[ch] += round(value * 100)
                n_purchases += 1
            else:
                channel = etype
    out = all_queries()["q_events_attribution"](spark, SF_SMOKE).collect()
    assert {r["channel"] for r in out} == set(counts)
    for r in out:
        ch = r["channel"]
        assert r["conversions"] == counts[ch], ch
        assert abs(r["total_value"] - cents[ch] / 100.0) <= 1e-6, ch
        assert (
            abs(r["avg_value"] - round(cents[ch] / 100.0 / counts[ch], 6))
            <= 1e-9
        ), ch
    assert sum(r["conversions"] for r in out) == n_purchases


def test_events_attribution_tolerance_matches_python_recompute(spark):
    """q_events_attribution_tolerance's kill conditions: (a) per-channel
    counts and cent-exact revenue equal a Python recompute that carries
    the last touch (type, instant) forward per user and voids credit
    when the purchase-touch gap exceeds 24 h of exact integer µs — an
    off-by-one on the boundary, an inconsistent (type, instant) pair,
    or a dropped void branch all move counts; (b) the tolerance op's
    unattributed bucket is a SUPERSET of the base op's (voiding can
    only grow it) and both ops see the same total purchase count; (c)
    the 24 h cut is non-vacuous at the smoke SF: both branches occur."""
    from collections import Counter, defaultdict

    from copy_databasetables_spark.io import load_table
    from copy_databasetables_spark.operators import all_queries
    from tests.conftest import SF_SMOKE

    tol = 24 * 3600 * 1000 * 1000
    rows = (
        load_table(spark, SF_SMOKE, "events")
        .where("event_type in ('click','view','purchase')")
        .selectExpr(
            "user_id",
            "unix_micros(cast(ts as timestamp)) as tus",
            "event_id",
            "event_type",
            "value",
        )
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        is_conv = 1 if r["event_type"] == "purchase" else 0
        by_user[r["user_id"]].append(
            (r["tus"], is_conv, r["event_id"], r["event_type"], r["value"])
        )
    counts: Counter = Counter()
    cents: Counter = Counter()
    n_purchases = 0
    for seq in by_user.values():
        seq.sort(key=lambda t: t[:3])
        touch = None  # (type, tus) pair, carried together
        for (tus, is_conv, _, etype, value) in seq:
            if is_conv:
                ch = (
                    touch[0]
                    if touch is not None and tus - touch[1] <= tol
                    else "unattributed"
                )
                counts[ch] += 1
                cents[ch] += round(value * 100)
                n_purchases += 1
            else:
                touch = (etype, tus)
    qs = all_queries()
    out = qs["q_events_attribution_tolerance"](spark, SF_SMOKE).collect()
    assert {r["channel"] for r in out} == set(counts)
    for r in out:
        ch = r["channel"]
        assert r["conversions"] == counts[ch], ch
        assert abs(r["total_value"] - cents[ch] / 100.0) <= 1e-6, ch
    assert sum(r["conversions"] for r in out) == n_purchases
    base = {
        r["channel"]: r["conversions"]
        for r in qs["q_events_attribution"](spark, SF_SMOKE).collect()
    }
    assert sum(base.values()) == n_purchases
    assert counts["unattributed"] >= base.get("unattributed", 0)
    assert counts["unattributed"] > 0
    assert sum(v for k, v in counts.items() if k != "unattributed") > 0


def test_binary_bucketed_matches_numpy_recompute(spark):
    """q_sim_binary_bucketed's kill conditions: (a) every output row
    equals an independent numpy recompute of the full blocked path —
    sign-bit packing, 8-bit pigeonhole buckets, candidates = share ≥1
    whole block with the probe, Hamming ranking WITHIN candidates only
    (vec_id tie-break), exact-cosine rerank; (b) the bucketing is
    non-vacuous BOTH ways on the smoke corpus: at least one probe's
    candidate set is a strict subset of the corpus (the cut is real)
    and at least one probe has ≥ _K candidates (the ranking path runs);
    (c) hamming is the true popcount of the sign-bit disagreement."""
    import numpy as np

    from copy_databasetables_spark.operators import all_queries
    from copy_databasetables_spark.operators.similarity import (
        _BQ_NBLOCKS,
        _BQ_RERANK_R,
        _K,
        _vecs,
    )
    from tests.conftest import SF_SMOKE

    rows = _vecs(spark, SF_SMOKE).select("vec_id", "e").collect()
    ids = np.array([r["vec_id"] for r in rows])
    E = np.array([r["e"] for r in rows])
    nrm = np.linalg.norm(E, axis=1)
    bits = E > 0
    bw = 64 // _BQ_NBLOCKS
    # block values as integers: bits are little-endian within a block
    # (bit i of the packed word = dim i), matching shiftleft(1, i)
    blocks = np.zeros((len(ids), _BQ_NBLOCKS), dtype=np.int64)
    for b in range(_BQ_NBLOCKS):
        for j in range(bw):
            blocks[:, b] |= bits[:, b * bw + j].astype(np.int64) << j

    expected = {}
    strict_cut = ranked_full = False
    for pi in np.where(ids % 50 == 0)[0]:
        coll = (blocks == blocks[pi]).any(axis=1)
        coll[pi] = False
        cand_all = np.where(coll)[0]
        if len(cand_all) < len(ids) - 1:
            strict_cut = True
        if len(cand_all) >= _K:
            ranked_full = True
        ham = (bits[cand_all] != bits[pi]).sum(axis=1)
        cand = cand_all[np.lexsort((ids[cand_all], ham))][:_BQ_RERANK_R]
        cos = (E[cand] @ E[pi]) / (nrm[cand] * nrm[pi])
        rer = cand[np.lexsort((ids[cand], -cos))][:_K]
        for rank, ni in enumerate(rer, start=1):
            c = float(E[ni] @ E[pi] / (nrm[ni] * nrm[pi]))
            h = int((bits[ni] != bits[pi]).sum())
            expected[(int(ids[pi]), int(ids[ni]))] = (h, round(c, 4), rank)
    assert strict_cut and ranked_full

    out = all_queries()["q_sim_binary_bucketed"](spark, SF_SMOKE).collect()
    assert len(out) == len(expected)
    for r in out:
        h, c, rank = expected[(r["probe_id"], r["neighbor_id"])]
        assert r["hamming"] == h, r
        assert abs(r["cosine"] - c) <= 1.0000001e-4, r
        assert r["rank_pos"] == rank, r


def test_ivfpq_cdc_touches_only_affected_cells(spark):
    """q_sim_ivf_pq_cdc's maintenance contract, pinned at the FILE
    level: (a) after the delta apply, every cell partition NOT in the
    affected set still holds exactly its base-build files (same names,
    sizes, mtimes — dynamic partition overwrite never touched them);
    (b) every affected cell present in the maintained index was
    rewritten (no base-build file survives in it); (c) the maintained
    members/ table is ROW-IDENTICAL to a from-scratch full rebuild of
    the current corpus against the same frozen quantizer — the
    artifact-level version of the op's query-level oracle; (d) the
    delta actually moved at least one vector between cells (the
    scenario is non-vacuous)."""
    import os

    from copy_databasetables_spark.operators import similarity
    from copy_databasetables_spark.operators.similarity import (
        _centroids,
        _ivf_assign,
        _ivfpq_cdc_apply,
        _ivfpq_cdc_base_build,
        _ivfpq_cdc_old_corpus,
        _pq_codebook,
        _pq_encode,
        _vecs,
    )
    from tests.conftest import SF_SMOKE

    # the registered ~9% delta touches all 32 cells at smoke scale
    # (pruning vacuous); shrink to ~1% THROUGH the runtime-read
    # constant so some cells are provably untouched — same code path
    original = similarity._IDX_DELTA_FILTER
    similarity._IDX_DELTA_FILTER = "vec_id % 100 = 1 AND vec_id % 7 <> 3"
    try:
        _run_ivfpq_cdc_file_pin(spark, SF_SMOKE)
    finally:
        similarity._IDX_DELTA_FILTER = original


def _run_ivfpq_cdc_file_pin(spark, SF_SMOKE):
    import os

    from copy_databasetables_spark.operators.similarity import (
        _centroids,
        _ivf_assign,
        _ivfpq_cdc_apply,
        _ivfpq_cdc_base_build,
        _ivfpq_cdc_old_corpus,
        _pq_codebook,
        _pq_encode,
        _vecs,
    )

    v = _vecs(spark, SF_SMOKE)
    old = _ivfpq_cdc_old_corpus(v)
    c = _centroids(old)
    _sub_cb, cb_row = _pq_codebook(old)
    path = _ivfpq_cdc_base_build(spark, old, c, SF_SMOKE)

    def snapshot():
        snap = {}
        root = f"{path}/members"
        for d in os.listdir(root):
            if not d.startswith("cid="):
                continue
            cid = int(d.split("=", 1)[1])
            files = {}
            for fn in os.listdir(os.path.join(root, d)):
                if fn.endswith(".parquet"):
                    st = os.stat(os.path.join(root, d, fn))
                    files[fn] = (st.st_size, st.st_mtime_ns)
            snap[cid] = files
        return snap

    before = snapshot()
    affected = _ivfpq_cdc_apply(spark, v, c, cb_row, path)
    after = snapshot()

    untouched = set(before) - set(affected)
    assert untouched, "every cell affected — partition pruning untestable"
    for cid in untouched:
        assert after[cid] == before[cid], f"cell {cid} was rewritten"
    for cid in set(affected) & set(after):
        assert not (set(after[cid]) & set(before.get(cid, {}))), (
            f"affected cell {cid} kept a base-build file"
        )

    # (d) non-vacuous: some delta vector changed cells
    old_a = {
        (r["vec_id"], r["cid"])
        for r in _ivf_assign(old, c).collect()
    }
    new_a = {
        (r["vec_id"], r["cid"])
        for r in _ivf_assign(v, c).collect()
    }
    assert old_a != new_a

    # (c) maintained members/ ≡ full rebuild (row multiset)
    maintained = {
        (r["vec_id"], r["m"], r["code_id"], int(r["cid"]))
        for r in spark.read.parquet(f"{path}/members").collect()
    }
    rebuilt = {
        (r["vec_id"], r["m"], r["code_id"], int(r["cid"]))
        for r in _pq_encode(v.select("vec_id", "e"), cb_row)
        .join(_ivf_assign(v, c), "vec_id")
        .collect()
    }
    assert maintained == rebuilt


#: every key whose rows are (probe_id, neighbor_id, ..., cosine,
#: rank_pos), with the similarity constant that bounds its rank
_RANKED_KEYS = {
    "q_sim_topk": "_K",
    "q_sim_topk_blas": "_K",
    "q_sim_quantized": "_K",
    "q_sim_pq": "_K",
    "q_sim_pq_rerank": "_K",
    "q_sim_hybrid": "_K",
    "q_sim_topk_whitened": "_K",
    "q_sim_binary_hamming": "_K",
    "q_sim_binary_bucketed": "_K",
    "q_sim_ivf": "_IVF_K",
    "q_sim_ivf_kscaled": "_IVF_K",
    "q_sim_ivf_persisted": "_IVF_K",
    "q_sim_ivf_kscaled_persisted": "_IVF_K",
    "q_sim_ivf_multiprobe": "_IVF_K",
    "q_sim_hybrid_ivf": "_IVF_K",
    "q_sim_ivf_pq": "_IVF_K",
    "q_sim_ivf_pq_persisted": "_IVF_K",
    "q_sim_ivf_pq_multiprobe": "_IVF_K",
    "q_sim_ivf_pq_rerank": "_IVF_K",
    "q_sim_ivf_pq_cdc": "_IVF_K",
}


@pytest.mark.parametrize("key", sorted(_RANKED_KEYS))
def test_ranking_contract(spark, key):
    """The per-probe top-k cut every retrieval op ends in: rank_pos
    runs 1..n with n ≤ the op's k, cosine never increases with rank,
    a probe never returns itself, and no (probe, neighbor) pair
    repeats."""
    from collections import defaultdict

    from copy_databasetables_spark.operators import all_queries, similarity
    from tests.conftest import SF_SMOKE

    k = getattr(similarity, _RANKED_KEYS[key])
    rows = (
        all_queries()[key](spark, SF_SMOKE)
        .select("probe_id", "neighbor_id", "cosine", "rank_pos")
        .collect()
    )
    assert rows
    by_probe = defaultdict(list)
    for r in rows:
        by_probe[r["probe_id"]].append(r)
    for probe, ranked in by_probe.items():
        ranked.sort(key=lambda r: r["rank_pos"])
        assert [r["rank_pos"] for r in ranked] == list(range(1, len(ranked) + 1))
        assert len(ranked) <= k
        cos = [r["cosine"] for r in ranked]
        assert all(a >= b for a, b in zip(cos, cos[1:])), (probe, cos)
        ids = [r["neighbor_id"] for r in ranked]
        assert probe not in ids
        assert len(set(ids)) == len(ids)
