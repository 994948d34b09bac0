"""§2.10 Similarity search over the embedding column.

The vector operators on ``embeddings`` (``array<float>``, dim 64):
exact and approximate (IVF, PQ, IVF-PQ, binary-sketch) nearest-neighbor
search, recall audits of each index, and the embedding statistics
(centroids, covariance, power-iteration PCA, whitening, drift).

Each retrieval op states only how it scores candidates; the plan around
the scoring is shared:

- ``_probes`` — the query batch (``_PROBE_FILTER``'s rows);
- ``_scan`` — brute-force candidates, probes broadcast over the corpus;
- ``_cell_pairs`` / ``_ivf_top_k`` — the IVF probe plan: probe → its
  nearest cells → the cells' members (full vectors or PQ codes);
- ``_top_k`` — the per-probe cosine top-k cut;
- ``_power_iteration`` — the driver-side power-iteration kernel behind
  every PCA op.

Cosine math is higher-order-function expressions (zip_with dot over
precomputed norms) in whole-stage codegen. Vectors are cast to double
first, so Spark and the DuckDB oracle (list_cosine_similarity on
DOUBLE[]) agree to ~1e-15; ranks are decided on raw doubles (cosine gaps
~1e-3) with the id as the total tie-break, and reported cosines round
to 4dp. Sums that feed a rounded output quantize per term to int64 so
both engines add identical integers in any order.
"""

from __future__ import annotations

import itertools
import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from copy_databasetables_spark.io import load_table, read_written
from copy_databasetables_spark.operators import register
from copy_databasetables_spark.operators._helpers import (
    _SCALE,
    _cosine_pre,
    _scaled,
    ckpt,
    rz,
)

_K = 5
_IVF_K = 3
_SIM_TAU = 0.45

#: probe set: every 50th vector (10 probes at sf0.01, 40 at sf0.1).
_PROBE_FILTER = "vec_id % 50 = 0"
#: hard cap on the probe set the BLAS path collects to the driver: the
#: collected matrix is O(cap·dim) bytes REGARDLESS of corpus size (the
#: bare probe filter selects 2% of the corpus, which would grow without
#: bound). Deterministic: smallest vec_ids win.
_BLAS_MAX_PROBES = 32
#: coarse centroids for IVF: a disjoint deterministic sample, hard-capped
#: at a FIXED count. Without the cap the filter alone selects 2% *of the
#: corpus*, so the centroid broadcast (and the O(n·K) assignment work)
#: would grow linearly with data — at 100 TB that broadcast OOMs every
#: executor. With the cap, the broadcast is O(K·dim) bytes regardless of
#: corpus size; production K scales like ~sqrt(n) but is always an
#: explicit constant chosen per index build, never a fraction of the data.
_CENTROID_FILTER = "vec_id % 50 = 7"
_IVF_MAX_CENTROIDS = 32
#: per-call sequence for persisted-index directories (see _ivf_index_path).
_IVF_INDEX_SEQ = itertools.count()

#: the (filtered, zero-norm-free) vector CTE shared by every similarity
#: oracle — mirrors _vecs(), including the zero-norm guard.
_V_SQL = (
    "SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings "
    "WHERE list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),"
    " 'sum') > 0"
)
#: centroid CTE: deterministic filter + ORDER BY + fixed LIMIT, the same
#: bounding pattern as _BLAS_MAX_PROBES. Carries cn (the centroid norm,
#: the same sequential x² fold as _vecs — bit-identical across DuckDB's
#: list_aggregate and Spark's F.aggregate, verified in tests) because
#: the assignment ranking divides the quantized dot by it.
_C_SQL = (
    f"SELECT vec_id AS cid, e AS ce, "
    f"sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS cn "
    f"FROM v WHERE {_CENTROID_FILTER} "
    f"ORDER BY vec_id LIMIT {_IVF_MAX_CENTROIDS}"
)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embeddings is one small parquet file → one scan partition; the
    # pair joins below are compute-heavy per row, so parallelism must be
    # created explicitly (AQE sees tiny bytes and won't split).
    #
    # The L2 norm is a PER-VECTOR fact computed here, once — the pair
    # operators divide a dot product by na·nb instead of re-aggregating
    # both norms per pair, cutting the per-pair higher-order work from
    # three array aggregates to one (the dot).
    return (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            "label",
            F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
        )
        .withColumn(
            "nrm",
            F.sqrt(F.aggregate(F.col("e"), F.lit(0.0), lambda acc, x: acc + x * x)),
        )
        # zero-norm vectors have no defined cosine: dividing by nrm=0
        # would turn every score they touch into NaN and silently corrupt
        # rankings. Excluding them is the principled semantics and is
        # mirrored in every oracle's v CTE (_V_SQL).
        .where(F.col("nrm") > 0.0)
    )


def _centroids(v: DataFrame, k: int = _IVF_MAX_CENTROIDS) -> DataFrame:
    """The IVF coarse-centroid set: filter → deterministic order → hard
    LIMIT (TakeOrdered), so the broadcast side is a FIXED K rows no
    matter how large the corpus grows — the same bounding pattern as
    ``_bounded_probes``. ``k`` is the index-build constant (default the
    fixed 32; q_sim_ivf_kscaled passes ⌈√n⌉). Plan-pinned in
    tests/test_plans.py."""
    return (
        v.where(_CENTROID_FILTER)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("cn"),
        )
        .orderBy("cid")
        .limit(k)
    )


def _bounded_probes(v: DataFrame) -> DataFrame:
    """The BLAS path's driver-collected probe set: filter → deterministic
    order → hard LIMIT. Compiles to TakeOrdered, so only cap rows ever
    reach the driver (unit-tested in tests/test_operators.py)."""
    return (
        v.where(_PROBE_FILTER)
        .select("vec_id", "e")
        .orderBy("vec_id")
        .limit(_BLAS_MAX_PROBES)
    )


def _qdot(a: str, b: str) -> Column:
    """Int-quantized dot product: floor((x·y)·10⁶ + 0.5) per term,
    summed — every term is an integer-valued double and the running sum
    stays far below 2⁵³, so the sum is EXACT and therefore
    order-independent. So the same integers come out of Spark codegen
    here, numpy inside ``_ivf_assign``'s map-side batches, and DuckDB's
    mirror (``_qd_sql``), no matter how each engine batches or reorders
    the reduction — verified bit-for-bit in tests/test_operators.py. The
    1e-6 quantization error (≤3.2e-5 absolute on a 64-dim dot) sits
    two orders below the ~1e-3 centroid-affinity gaps that decide
    assignments on this data."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.floor(x * y * F.lit(1000000.0) + F.lit(0.5))
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _cent_affinity(e: str) -> Column:
    """The centroid-assignment ranking score: quantized dot over the
    centroid norm ``cn``. Dividing the exact integer by cn is ONE IEEE
    double division of bit-identical operands on every engine, so the
    score (and any comparison of scores) is deterministic end-to-end.
    The vector's own norm is omitted — constant within a per-vector
    (or per-probe) ranking, so it cannot change any argmax."""
    return _qdot(e, "ce") / F.col("cn")


def _qd_sql(a: str, b: str) -> str:
    """DuckDB mirror of ``_qdot`` — identical association (x·y)·10⁶,
    identical floor, exact integral sum."""
    return (
        f"list_aggregate(list_transform(range(1, len({a}) + 1), "
        f"i -> floor({a}[i] * {b}[i] * 1000000.0 + 0.5)), 'sum')"
    )


#: the one assignment CTE body shared by every IVF-family oracle: rank
#: centroids per corpus vector by the quantized affinity (mirrors
#: _ivf_assign / _cent_affinity exactly), keep rn = 1.
_ASSIGN_CTE = f"""
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_qd_sql("v.e", "c.ce")} / c.cn
                                             DESC,
                                           c.cid ASC) AS rn
        FROM v CROSS JOIN c)
      WHERE rn = 1"""


def _probes(v: DataFrame, *extra, e: str = "e", nrm: str = "nrm") -> DataFrame:
    """The query batch: ``_PROBE_FILTER``'s rows of ``v`` as
    ``(probe_id, pe, pn, *extra)``, ``pe``/``pn`` read from columns
    ``e``/``nrm``. Every probe-side op draws its batch here, so all of
    them (and their oracles' ``p`` CTEs) search for the same vectors."""
    return v.where(_PROBE_FILTER).select(
        F.col("vec_id").alias("probe_id"),
        F.col(e).alias("pe"),
        F.col(nrm).alias("pn"),
        *extra,
    )


def _scan(
    p: DataFrame, corpus: DataFrame, cos: Column | None = None, carry=()
) -> DataFrame:
    """Brute-force candidates: the broadcast probe batch ``p`` against
    every other ``corpus`` row, as ``(probe_id, neighbor_id, *carry,
    cos_raw)``. ``cos`` defaults to ``_cosine_pre("pe", "e", "pn",
    "nrm")``. Cost: |probes|·|corpus| dot products in one nested-loop
    join; no shuffle of the corpus."""
    if cos is None:
        cos = _cosine_pre("pe", "e", "pn", "nrm")
    return (
        F.broadcast(p)
        .join(corpus, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            *carry,
            cos.alias("cos_raw"),
        )
    )


def _top_k(scored: DataFrame, k: int, *carry) -> DataFrame:
    """The per-probe cosine top-k cut every retrieval op ends in: rank
    ``(probe_id; cos_raw desc, neighbor_id asc)``, keep ``rank_pos <=
    k`` and project ``(probe_id, neighbor_id, *carry, cosine,
    rank_pos)`` with ``cosine = rz(cos_raw, 4)``.

    Ranking on raw doubles with neighbor_id as the total tie-break is
    what matches the oracles' ``ORDER BY cos DESC, id ASC``: cosine
    gaps (~1e-3) sit far above cross-engine ulp noise. Callers pass
    ``k`` at call time (``_K``, ``_IVF_K``) so mutating the module
    constant re-binds it. Catalyst plans the cut as WindowGroupLimit +
    Window over one shuffle on probe_id."""
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank_pos", F.row_number().over(w))
        .where(F.col("rank_pos") <= k)
        .select(
            "probe_id",
            "neighbor_id",
            *carry,
            rz("cos_raw", 4).alias("cosine"),
            "rank_pos",
        )
    )


@register(
    "q_sim_topk",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    p AS (SELECT * FROM v WHERE {_PROBE_FILTER}),
    scored AS (
      SELECT p.vec_id AS probe_id, v.vec_id AS neighbor_id,
             list_cosine_similarity(p.e, v.e) AS cos_raw,
             row_number() OVER (PARTITION BY p.vec_id
                                ORDER BY list_cosine_similarity(p.e, v.e) DESC,
                                         v.vec_id ASC) AS rank_pos
      FROM p JOIN v ON v.vec_id <> p.vec_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_K}
    """,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for each probe vector, the exactness
    baseline the approximate indexes are measured against: one
    broadcast probe batch against the corpus (``_scan``), then the
    shared ``_top_k`` cut. Cost O(|probes|·|corpus|)."""
    v = _vecs(spark, sf_dir)
    return _top_k(_scan(_probes(v), v), _K)


@register(
    "q_sim_threshold",
    oracle=f"""
    WITH v AS ({_V_SQL})
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           (round(list_cosine_similarity(a.e, b.e), 4) + 0.0) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= {_SIM_TAU}
    """,
)
def q_sim_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vector pairs with cosine ≥ τ (τ=0.45 sits in the upper tail of
    this random testdata; production thresholds are data-dependent).

    EXACT REFERENCE ONLY — deliberately O(n²) all-pairs so the gate can
    hash-check the bucketed twin against ground truth. At corpus scale
    use ``q_sim_threshold_blocked`` (IVF-cell candidate blocking, same
    τ): its cartesian-free shape is machine-enforced by
    tests/test_plans.py::test_sim_threshold_blocked_is_cartesian_free."""
    v = _vecs(spark, sf_dir)
    a = v.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
        .withColumn("cos_raw", _cosine_pre("ea", "eb", "na", "nb"))
        .where(F.col("cos_raw") >= _SIM_TAU)
        .select("vec_id_a", "vec_id_b", rz("cos_raw", 4).alias("cosine"))
    )


@register(
    "q_sim_threshold_blocked",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    c AS ({_C_SQL}),
    assign AS ({_ASSIGN_CTE})
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           (round(list_cosine_similarity(av.e, bv.e), 4) + 0.0) AS cosine
    FROM assign a
    JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN v av ON av.vec_id = a.vec_id
    JOIN v bv ON bv.vec_id = b.vec_id
    WHERE list_cosine_similarity(av.e, bv.e) >= {_SIM_TAU}
    """,
)
def q_sim_threshold_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold similarity, IVF-cell-blocked — the 100 TB shape for
    ``q_sim_threshold``: candidate pairs are generated only WITHIN a
    vector's coarse-quantization cell (same deterministic centroids as
    q_sim_ivf), so total pair work drops from O(n²) to ~O(n²/K) and the
    join shuffles on the cell id instead of materializing the cross
    product. This is the standard ANN-candidate near-dup pipeline
    (cell-blocking trades cross-cell recall for tractable cost — the
    production choice at corpus scale); the oracle replicates the exact
    same deterministic pipeline, so the result is hash-checked, and
    q_sim_threshold remains the exact all-pairs reference."""
    v = _vecs(spark, sf_dir)
    c = _centroids(v)
    assign = (
        _ivf_assign(v, c)
        .join(v, "vec_id")
        .select("vec_id", "cid", "e", "nrm")
    )
    a = assign.select(
        F.col("vec_id").alias("vec_id_a"),
        "cid",
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = assign.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("cid").alias("cid_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, (a.cid == b.cid_b) & (F.col("vec_id_a") < F.col("vec_id_b")))
        .withColumn("cos_raw", _cosine_pre("ea", "eb", "na", "nb"))
        .where(F.col("cos_raw") >= _SIM_TAU)
        .select("vec_id_a", "vec_id_b", rz("cos_raw", 4).alias("cosine"))
    )


@register(
    "q_knn_label",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    p AS (SELECT * FROM v WHERE {_PROBE_FILTER}),
    knn AS (
      SELECT probe_id, label FROM (
        SELECT p.vec_id AS probe_id, v.label,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY list_cosine_similarity(p.e, v.e) DESC,
                                           v.vec_id ASC) AS rank_pos
        FROM p JOIN v ON v.vec_id <> p.vec_id)
      WHERE rank_pos <= {_K}),
    votes AS (
      SELECT probe_id, label, COUNT(*) AS n_votes,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY COUNT(*) DESC, label ASC) AS vrank
      FROM knn GROUP BY probe_id, label)
    SELECT probe_id, label AS predicted_label, n_votes
    FROM votes WHERE vrank = 1
    """,
)
def q_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification: majority label among the 5 nearest neighbors,
    ties broken toward the smaller label (deterministic, unlike mode())."""
    v = _vecs(spark, sf_dir)
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    knn = (
        F.broadcast(_probes(v))
        .join(v, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            "label",
            _cosine_pre("pe", "e", "pn", "nrm").alias("cos_raw"),
        )
        .withColumn("rank_pos", F.row_number().over(w))
        .where(F.col("rank_pos") <= _K)
    )
    vw = Window.partitionBy("probe_id").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        knn.groupBy("probe_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
        .withColumn("vrank", F.row_number().over(vw))
        .where(F.col("vrank") == 1)
        .select("probe_id", F.col("label").alias("predicted_label"), "n_votes")
    )


@register(
    "q_sim_topk_blas",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    p AS (SELECT * FROM v WHERE {_PROBE_FILTER}
          ORDER BY vec_id LIMIT {_BLAS_MAX_PROBES}),
    scored AS (
      SELECT p.vec_id AS probe_id, v.vec_id AS neighbor_id,
             list_cosine_similarity(p.e, v.e) AS cos_raw,
             row_number() OVER (PARTITION BY p.vec_id
                                ORDER BY list_cosine_similarity(p.e, v.e) DESC,
                                         v.vec_id ASC) AS rank_pos
      FROM p JOIN v ON v.vec_id <> p.vec_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_K}
    """,
)
def q_sim_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as q_sim_topk via the vectorized Arrow path: the probe
    matrix is broadcast to Python workers and each corpus batch scores
    against ALL probes in one BLAS matmul inside ``mapInPandas``. This is
    the documented exception to the no-UDF rule (SURVEY.md §3.2): per-
    element higher-order lambdas can't touch a dgemm on wide batches, and
    Arrow moves vectors columnar. NumPy's float64 matmul agrees with the
    sequential oracle to ~1e-15 — far below both the 4dp rounding and the
    ~1e-3 cosine gaps that decide ranks.

    Driver-memory bound: the probe pull is capped at ``_BLAS_MAX_PROBES``
    rows (deterministic smallest-vec_id order), so the collected matrix
    is O(cap·dim) independent of corpus size — without the cap the
    probe filter alone selects 2% of the corpus and the driver pull
    would grow linearly with the data."""
    import numpy as np
    import pandas as pd

    v = _vecs(spark, sf_dir)
    probes = _bounded_probes(v).toPandas()
    probe_ids = probes["vec_id"].to_numpy()
    pm = np.stack(probes["e"].to_numpy())  # (P, 64)
    pm_unit = pm / np.linalg.norm(pm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((probe_ids, pm_unit))

    def score(batches):
        ids, punit = bc.value
        for pdf in batches:
            cm = np.stack(pdf["e"].to_numpy())  # (B, 64)
            cm_unit = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm_unit @ punit.T  # (B, P)
            n_b, n_p = sims.shape
            yield pd.DataFrame(
                {
                    "probe_id": np.tile(ids, n_b),
                    "neighbor_id": np.repeat(pdf["vec_id"].to_numpy(), n_p),
                    "cos_raw": sims.ravel(),
                }
            )

    scored = v.select("vec_id", "e").mapInPandas(
        score, schema="probe_id long, neighbor_id long, cos_raw double"
    )
    return _top_k(scored.where(F.col("neighbor_id") != F.col("probe_id")), _K)


def _collect_centroids(c: DataFrame) -> list:
    """Collect the bounded centroid table once, cid-sorted — the
    index-build constant every assign leg broadcasts (≤ K·d doubles)."""
    return sorted(
        c.select("cid", "ce", "cn").collect(), key=lambda r: r["cid"]
    )


def _ivf_assign(v: DataFrame, c: DataFrame | list) -> DataFrame:
    """The IVF index BUILD: every corpus vector coarse-quantizes to its
    single nearest centroid — a pure MAP-SIDE argmax. The centroid
    matrix collects once (a TakeOrdered-bounded index-build constant:
    K·d doubles — 51 MB even at the K=100k a 10B-vector index would
    use), broadcasts to the workers, and each corpus partition arg-maxes
    its own rows in numpy inside ``mapInPandas``: zero shuffle, no
    Window, corpus touched exactly once, O(K·d) resident per worker.
    ``c`` is the centroid DataFrame or an already-collected, cid-sorted
    row list (``_collect_centroids``), so multi-leg callers pull the
    centroids once.

    Determinism: the ranking score is the int64-quantized dot over the
    centroid norm (``_cent_affinity``) — floor((x·c)·10⁶ + 0.5) summed in integers,
    EXACT and order-independent, so numpy's batching cannot move it;
    the division by cn is one IEEE op on bit-identical operands. The
    same integers come out of the DuckDB oracle (``_ASSIGN_CTE``) and
    the Spark HOF probe-side expression, verified bit-for-bit in
    tests/test_operators.py. Tie-break: centroid rows scanned
    cid-ascending, numpy argmax keeps the first max — the window's
    (score DESC, cid ASC) verbatim."""
    import numpy as np
    import pandas as pd

    cent = c if isinstance(c, list) else _collect_centroids(c)
    if not cent:
        raise ValueError("IVF build: empty centroid set")
    cids = np.array([r["cid"] for r in cent], dtype=np.int64)
    cm = np.array([list(r["ce"]) for r in cent], dtype=np.float64)
    cns = np.array([r["cn"] for r in cent], dtype=np.float64)
    bc = v.sparkSession.sparkContext.broadcast((cids, cm, cns))

    def assign(batches):
        b_cids, b_cm, b_cns = bc.value
        n_dim = b_cm.shape[1]
        for pdf in batches:
            # sub-chunk Arrow batches so the working set stays at
            # B·K int64 (~46 MB at B=4096, K=1415) — per-dim
            # accumulation never materializes a B×K×d tensor.
            for lo in range(0, len(pdf), 4096):
                part = pdf.iloc[lo : lo + 4096]
                if part.empty:
                    continue
                vm = np.array(list(part["e"]), dtype=np.float64)
                qd = np.zeros((vm.shape[0], b_cm.shape[0]), dtype=np.int64)
                for i in range(n_dim):
                    # association (x·c)·1e6 — matches _qdot / _qd_sql
                    qd += np.floor(
                        np.outer(vm[:, i], b_cm[:, i]) * 1000000.0 + 0.5
                    ).astype(np.int64)
                best = np.argmax(qd.astype(np.float64) / b_cns[None, :], axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": part["vec_id"].to_numpy(),
                        "cid": b_cids[best],
                    }
                )

    return v.select("vec_id", "e").mapInPandas(
        assign, schema="vec_id bigint, cid bigint"
    )


def _probe_cells(p: DataFrame, c: DataFrame, nprobe: int) -> DataFrame:
    """Route each probe of ``p`` to its ``nprobe`` nearest cells of the
    centroid table ``c``: ``(probe_id, pe, pn, cid)``.

    Cells rank by ``_cent_affinity`` (the quantized dot over the
    centroid norm) with cid ascending on ties, the same score and
    tie-break ``_ivf_assign`` uses to place corpus vectors, so at
    nprobe=1 a probe searches exactly its own cell. Cost: |probes|·K
    scores against the broadcast centroid table; the corpus is not
    touched."""
    pw = Window.partitionBy("probe_id").orderBy(
        F.col("cos_c").desc(), F.col("cid").asc()
    )
    return (
        p.crossJoin(F.broadcast(c))
        .withColumn("cos_c", _cent_affinity("pe"))
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= nprobe)
        .select("probe_id", "pe", "pn", "cid")
    )


def _cell_pairs(
    p: DataFrame,
    c: DataFrame,
    assign: DataFrame,
    members: DataFrame,
    x: str,
    nprobe: int = 1,
    meta: DataFrame | None = None,
) -> DataFrame:
    """The IVF probe plan: probe → its ``nprobe`` cells (``_probe_cells``)
    → the members ``assign`` places in those cells. ``members`` is
    ``(vec_id, x, nrm)``: full vectors (``x="e"``) or PQ reconstructions
    (``x="d"``). ``meta`` (optional, ``(neighbor_id, lang)``) pre-filters
    the inverted lists before scoring, so every probe still gets a full
    k of qualifying neighbors. Output: ``(probe_id, pe, pn, cid,
    neighbor_id, ncid, x, nrm[, lang])``, probes excluded.

    ``assign`` gives each vector exactly one cell, so the fan-out never
    emits a (probe, neighbor) pair twice at any nprobe. Cost per batch:
    the probed cells' members (≈ nprobe·n/K), one cid equi-join against
    the broadcast probe→cell table."""
    cell_members = assign.select(
        F.col("vec_id").alias("neighbor_id"), F.col("cid").alias("ncid")
    ).join(
        members.select(F.col("vec_id").alias("neighbor_id"), x, "nrm"),
        "neighbor_id",
    )
    if meta is not None:
        cell_members = cell_members.join(meta, "neighbor_id")
    return F.broadcast(_probe_cells(p, c, nprobe)).join(
        cell_members,
        (F.col("ncid") == F.col("cid"))
        & (F.col("neighbor_id") != F.col("probe_id")),
    )


def _ivf_top_k(
    p: DataFrame,
    c: DataFrame,
    assign: DataFrame,
    members: DataFrame,
    x: str = "e",
    nprobe: int = 1,
    meta: DataFrame | None = None,
) -> DataFrame:
    """IVF search: ``_cell_pairs`` scored by the cosine of ``pe``
    against the member vector ``x``, cut by ``_top_k`` at ``_IVF_K``
    (``lang`` carried when ``meta`` is given). Every IVF-Flat and
    IVF-PQ op ends here; they differ only in the index they pass."""
    carry = () if meta is None else ("lang",)
    scored = _cell_pairs(p, c, assign, members, x, nprobe, meta).select(
        "probe_id",
        "neighbor_id",
        *carry,
        _cosine_pre("pe", x, "pn", "nrm").alias("cos_raw"),
    )
    return _top_k(scored, _IVF_K, *carry)


#: the columns of the persisted IVF / IVF-PQ artifacts, as their builds
#: write them: assignments (``_write_cells``, cid in the directories),
#: PQ codes (also a ``_write_cells`` members list) and the codebook
_ASSIGN_COLS = "vec_id bigint"
_CODES_COLS = "vec_id bigint, m int, code_id int"
_CODEBOOK_COLS = "code_id int, m int, cw array<double>"


def _write_cells(df: DataFrame, path: str) -> None:
    """Write an index artifact ``partitionBy(cid)``, one file per cell
    (``repartition("cid")`` first), so a probe's cell join prunes the
    read to its own cells' files."""
    df.repartition("cid").write.mode("overwrite").partitionBy("cid").parquet(
        path
    )


def _read_cells(spark: SparkSession, path: str, cols: str) -> DataFrame:
    """Read a ``_write_cells`` artifact back as ``(cols, cid)``, ``cols``
    the DDL of its written columns (``read_written``). cid returns from
    the partition directories, declared BIGINT: the join-key type of
    the in-plan index."""
    return read_written(spark, path, f"{cols}, cid bigint", by="cid")


def _ivf_oracle(c_cte: str) -> str:
    """Single source for every nprobe=1 IVF-search oracle: the
    assign/probe/score SQL is identical across the fixed-K, K=⌈√n⌉ and
    persisted variants — only the centroid CTE differs, so only it is
    a parameter (the _RHP_SC_CANDS move; edits to the search-leg SQL
    can no longer drift one variant's gate)."""
    return f"""
    WITH v AS ({_V_SQL}),
    c AS ({c_cte}),
    assign AS ({_ASSIGN_CTE}),
    p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE {_PROBE_FILTER}),
    scored AS (
      SELECT p.probe_id, n.vec_id AS neighbor_id,
             list_cosine_similarity(p.pe, nv.e) AS cos_raw,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_cosine_similarity(p.pe, nv.e) DESC,
                                         n.vec_id ASC) AS rank_pos
      FROM p
      JOIN assign pa ON pa.vec_id = p.probe_id
      JOIN assign n  ON n.cid = pa.cid AND n.vec_id <> p.probe_id
      JOIN v nv      ON nv.vec_id = n.vec_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_IVF_K}
    """


#: K = ⌈√n⌉ centroid CTE (the kscaled variant's only oracle delta).
_KSCALED_C_SQL = f"""SELECT cid, ce, cn FROM (
            SELECT vec_id AS cid, e AS ce,
                   sqrt(list_aggregate(list_transform(e, x -> x * x),
                                       'sum')) AS cn,
                   row_number() OVER (ORDER BY vec_id ASC) AS rn
            FROM v WHERE {_CENTROID_FILTER})
          CROSS JOIN (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS kk
                      FROM v)
          WHERE rn <= kk"""


@register("q_sim_ivf", oracle=_ivf_oracle(_C_SQL))
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN, nprobe=1: coarse-quantize every vector to its
    nearest of a FIXED ``_IVF_MAX_CENTROIDS`` deterministic centroids
    (bounded broadcast join), then each probe searches only its own
    cell. Same recall/latency trade as a FAISS IVF index, expressed as
    two broadcast joins + one window — at 100 TB, repartition the corpus
    by cell id once and reuse it for every query batch; raise K with
    corpus size (~sqrt(n)) as an explicit index-build constant, never a
    fraction of the data (q_sim_ivf_kscaled is that knob made real)."""
    v = _vecs(spark, sf_dir)
    c = _centroids(v)
    return _ivf_top_k(_probes(v), c, _ivf_assign(v, c), v)


@register("q_sim_ivf_kscaled", oracle=_ivf_oracle(_KSCALED_C_SQL))
def q_sim_ivf_kscaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_ivf with K = ⌈√n⌉ centroids instead of the fixed 32, the
    way FAISS sizes nlist: inverted lists hold ~√n members, so a query
    batch's search costs O(batch·√n) while the O(n·√n) assignment (the
    index build) runs in-plan here and is amortized by the persisted
    twin. K comes from one count (a scalar pull) and enters the plan as
    the literal LIMIT of the TakeOrdered centroid pick. The centroid
    filter yields n/50 rows, so effective K = min(n/50, ⌈√n⌉), the
    oracle's identical arithmetic."""
    v = _vecs(spark, sf_dir)
    c = _centroids(v, math.ceil(math.sqrt(v.count())))
    return _ivf_top_k(_probes(v), c, _ivf_assign(v, c), v)


def _ivf_index_path(
    sf_dir: str, base: str = "/tmp/spark_graft_ivf_index"
) -> str:
    """A per-CALL unique index directory. The returned search DataFrame
    reads the path lazily, so the path must never be overwritten while
    any earlier result could still be pending: a basename+pid key
    collides across corpora sharing a basename and across sequential
    calls in one process. Keying on sha1(abspath) + pid + a
    process-monotonic counter makes every call's directory fresh.
    Stale directories (mtime > 6 h — far beyond any gate/bench run's
    lifetime) are pruned best-effort on the way in so /tmp doesn't
    accumulate one index per historical call. ``base`` parameterizes
    the artifact family (text.py's persisted BM25 postings use
    /tmp/spark_graft_bm25_index)."""
    import hashlib
    import os
    import shutil
    import time
    try:
        cutoff = time.time() - 6 * 3600
        for d in os.listdir(base):
            full = os.path.join(base, d)
            if os.path.getmtime(full) < cutoff:
                shutil.rmtree(full, ignore_errors=True)
    except OSError:
        pass
    digest = hashlib.sha1(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(base, f"{digest}_{os.getpid()}_{next(_IVF_INDEX_SEQ)}")


def _ivf_persisted_search(
    spark: SparkSession, sf_dir: str, k: int
) -> DataFrame:
    """Build → persist → read back → search, for the persisted IVF-Flat
    ops: the ``(vec_id, cid)`` index is written by ``_write_cells`` to a
    fresh ``_ivf_index_path`` directory and the search reads it back,
    so the cell join prunes the scan to the probed cells' files. Values
    equal the in-plan search's: same centroids, same argmax."""
    v = _vecs(spark, sf_dir)
    c = _centroids(v, k)
    path = _ivf_index_path(sf_dir)
    _write_cells(_ivf_assign(v, c), path)
    return _ivf_top_k(_probes(v), c, _read_cells(spark, path, _ASSIGN_COLS), v)


@register("q_sim_ivf_persisted", oracle=_ivf_oracle(_C_SQL))
def q_sim_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_ivf with its index persisted: build the ``(vec_id, cid)``
    inverted index once, write it partitionBy(cid), and search the
    read-back. A query batch then pays only O(batch·n/K) search, never
    the O(n·K) assignment. Shares q_sim_ivf's oracle: a round-trip that
    corrupted one assignment would fail it."""
    return _ivf_persisted_search(spark, sf_dir, _IVF_MAX_CENTROIDS)


@register("q_sim_ivf_kscaled_persisted", oracle=_ivf_oracle(_KSCALED_C_SQL))
def q_sim_ivf_kscaled_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K = ⌈√n⌉ index of q_sim_ivf_kscaled, persisted and searched
    from the read-back: a query batch pays O(batch·√n) against storage
    and the O(n·√n) build is a one-time cost. Shares
    q_sim_ivf_kscaled's oracle."""
    v = _vecs(spark, sf_dir)
    k = math.ceil(math.sqrt(v.count()))
    return _ivf_persisted_search(spark, sf_dir, k)


_NPROBE = 2


@register(
    "q_sim_ivf_multiprobe",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    c AS ({_C_SQL}),
    ranked AS (
      SELECT v.vec_id, c.cid,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY {_qd_sql("v.e", "c.ce")} / c.cn DESC,
                                         c.cid ASC) AS rn
      FROM v CROSS JOIN c),
    assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
    p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE {_PROBE_FILTER}),
    pcells AS (SELECT vec_id, cid FROM ranked WHERE rn <= {_NPROBE}),
    scored AS (
      SELECT p.probe_id, n.vec_id AS neighbor_id,
             list_cosine_similarity(p.pe, nv.e) AS cos_raw,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_cosine_similarity(p.pe, nv.e) DESC,
                                         n.vec_id ASC) AS rank_pos
      FROM p
      JOIN pcells pa ON pa.vec_id = p.probe_id
      JOIN assign n  ON n.cid = pa.cid AND n.vec_id <> p.probe_id
      JOIN v nv      ON nv.vec_id = n.vec_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_IVF_K}
    """,
)
def q_sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat with multi-probe (nprobe=``_NPROBE``): each query probes
    its N nearest cells instead of one — the standard recall lever for
    an inverted-file index (FAISS ``nprobe``). Work scales linearly in
    nprobe (N cells of ~|corpus|/K each), recall monotonically improves
    (the candidate set is a strict superset of nprobe=1's, which the
    unit suite pins against the exact top-k), and the plan shape is
    UNCHANGED: the corpus is still partitioned by its single home cell;
    only the tiny probe→cell fan-out table grows N×."""
    v = _vecs(spark, sf_dir)
    c = _centroids(v)
    return _ivf_top_k(_probes(v), c, _ivf_assign(v, c), v, nprobe=_NPROBE)


@register(
    "q_sim_quantized",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    q AS (
      SELECT vec_id,
             greatest(list_aggregate(list_transform(e, x -> abs(x)), 'max')
                      / 127.0, 1e-30) AS scale,
             e
      FROM v),
    dq AS (
      SELECT vec_id,
             list_transform(e, x -> floor(x / scale + 0.5) * scale) AS d
      FROM q),
    n AS (
      SELECT vec_id, d,
             sqrt(list_aggregate(list_transform(d, x -> x * x), 'sum')) AS nrm
      FROM dq),
    p AS (SELECT vec_id AS probe_id, d AS pd, nrm AS pn FROM n
          WHERE {_PROBE_FILTER.replace('vec_id', 'vec_id')}),
    scored AS (
      SELECT p.probe_id, n.vec_id AS neighbor_id,
             list_dot_product(p.pd, n.d) / (p.pn * n.nrm) AS cos_raw,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_dot_product(p.pd, n.d)
                                         / (p.pn * n.nrm) DESC,
                                         n.vec_id ASC) AS rank_pos
      FROM p JOIN n ON n.vec_id <> p.probe_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_K}
    """,
)
def q_sim_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over int8-quantized vectors — the memory-bound path for
    10B+ vectors (SCALE.md): each vector stores as 64 bytes (one signed
    byte per dim, per-vector scale = max|x|/127) instead of 256, a 4×
    cut that decides whether the index fits executor memory. Scoring
    here dequantizes (q·scale) and ranks like the exact operator, so
    the result is a deterministic function of the quantized
    representation — the oracle replicates the same FLOOR(x/scale+0.5)
    quantizer (round-half-up in both engines, no ROUND portability
    trap) and must agree exactly. Quantization error vs the exact top-k
    is a recall question (measured in tests), not a correctness one."""
    v = _vecs(spark, sf_dir)
    # greatest(·, ε) guards a hypothetical all-zero vector (scale=0 would
    # make x/scale NaN); ε is far below any real float32 magnitude so the
    # guard is an identity on actual data. Mirrored in the oracle.
    scale = F.greatest(
        F.aggregate(F.col("e"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
        / 127.0,
        F.lit(1e-30),
    )
    dq = v.withColumn("scale", scale).select(
        "vec_id",
        F.expr("transform(e, x -> floor(x / scale + 0.5) * scale)").alias("d"),
    )
    n = dq.withColumn(
        "nrm",
        F.sqrt(F.aggregate(F.col("d"), F.lit(0.0), lambda a, x: a + x * x)),
    )
    cos = _cosine_pre("pe", "d", "pn", "nrm")
    return _top_k(_scan(_probes(n, e="d"), n, cos), _K)


@register(
    "q_emb_centroid",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    ex AS (SELECT label, unnest(range(0, len(e))) AS pos, unnest(e) AS x
           FROM v)
    SELECT label, CAST(pos AS INT) AS pos,
           (round(CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                 / (1e6 * COUNT(*)), 6) + 0.0) AS centroid_val,
           COUNT(*) AS n_vectors
    FROM ex GROUP BY label, pos
    """,
)
def q_emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class prototypes — the building block
    for centroid classifiers, IVF index builds, and drift monitoring).

    Shape: posexplode → two-phase hash aggregate keyed (label, pos) —
    the shuffle carries |labels|·dim partial sums, not vectors, so the
    reduce side is constant in corpus size. The component sum uses the
    engine's scaled-int64 convention (FLOOR(x·10⁶+0.5) is a lossy but
    bit-identical quantization applied in BOTH engines, making the
    mean exact and portable; raw double summation would be partition-
    order dependent)."""
    v = _vecs(spark, sf_dir)
    ex = v.select("label", F.posexplode("e").alias("pos", "x"))
    raw = F.sum(_scaled(F.col("x"))).cast("double") / (
        F.lit(float(_SCALE)) * F.count(F.lit(1))
    )
    return ex.groupBy("label", F.col("pos").cast("int").alias("pos")).agg(
        rz(raw, 6).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


_OUTLIER_K = 3


@register(
    "q_emb_outlier",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    ex AS (SELECT vec_id, label,
                  CAST(UNNEST(range(0, len(e))) AS INT) AS pos,
                  UNNEST(e) AS x
           FROM v),
    cg AS (SELECT label, pos,
                  CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                      / (1e6 * COUNT(*)) AS cval
           FROM ex GROUP BY label, pos),
    d AS (SELECT ex.vec_id, ex.label,
                 sqrt(SUM((ex.x - cg.cval) * (ex.x - cg.cval))) AS dist
          FROM ex JOIN cg ON ex.label = cg.label AND ex.pos = cg.pos
          GROUP BY ex.vec_id, ex.label),
    r AS (SELECT vec_id, label, dist,
                 row_number() OVER (PARTITION BY label
                                    ORDER BY dist DESC, vec_id) AS rk
          FROM d)
    SELECT vec_id, label, round(dist, 4) AS dist,
           CAST(rk AS INT) AS rank_pos
    FROM r WHERE rk <= {_OUTLIER_K}
    """,
)
def q_emb_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: the K vectors farthest (L2) from
    their label's mean embedding — mislabeled / drifted / junk sample
    detection, the quality-control twin of q_emb_centroid.

    Shape: centroids come from the posexplode two-phase aggregate
    (shuffle carries |labels|·dim partial sums), are re-assembled into
    one array per label (|labels| rows — broadcast by size into the
    distance join), and the distance is a zip_with fold in whole-stage
    codegen. Ranking partitions by label. At 100 TB every stage's
    reduce side is O(|labels|·dim) or O(|labels|·K) — constant in
    corpus rows — except the embarrassingly-parallel distance map.

    Determinism: the centroid uses the scaled-int convention (exact,
    order-independent); distances differ between engines only by float
    summation order (≪1e-10), nine orders below both the 4dp rounding
    and the ~1e-3 ranking gaps; vec_id breaks rank ties totally."""
    v = _vecs(spark, sf_dir)
    ex = v.select("vec_id", "label", F.posexplode("e").alias("pos", "x"))
    cg = ex.groupBy("label", "pos").agg(
        (
            F.sum(_scaled(F.col("x"))).cast("double")
            / (F.lit(float(_SCALE)) * F.count(F.lit(1)))
        ).alias("cval")
    )
    cent = cg.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))),
            lambda s: s.cval,
        ).alias("ce")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("e"), F.col("ce"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    d = v.join(cent, "label").select("vec_id", "label", dist.alias("dist"))
    w = Window.partitionBy("label").orderBy(F.col("dist").desc(), "vec_id")
    return (
        d.withColumn("rank_pos", F.row_number().over(w))
        .where(F.col("rank_pos") <= _OUTLIER_K)
        .select("vec_id", "label", F.round("dist", 4).alias("dist"), "rank_pos")
    )


#: Product quantization geometry: 64-dim vectors split into _PQ_M=16
#: subspaces of _PQ_SUB=4 dims; each subspace has a _PQ_K=16-entry
#: codebook, so a vector stores as 16 4-bit codes = 8 bytes instead of
#: 256 float bytes — a 32× cut (the FAISS PQ16x4 shape; narrow
#: subspaces + small codebooks is the standard trade). Codebooks are a
#: deterministic corpus sample (filter → ORDER BY → LIMIT, the same
#: bounding pattern as the IVF centroids) rather than k-means: the
#: index-build clustering refines quality without changing any plan.
_PQ_M = 16
_PQ_SUB = 4
_PQ_K = 16

#: codebook sample filter — denser than the IVF centroid filter so even
#: sf0.001's 50-vector table yields a usable codebook; the LIMIT still
#: caps the broadcast at _PQ_K rows regardless of corpus size.
_PQ_CB_FILTER = "vec_id % 7 = 3"

#: DuckDB mirror of the subspace slicing: m is 0-based, list slicing is
#: 1-based inclusive.
_PQ_SUBS_SQL = f"""
    cbv AS (
      SELECT e, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
      FROM (SELECT vec_id, e FROM v WHERE {_PQ_CB_FILTER}
            ORDER BY vec_id LIMIT {_PQ_K})),
    ms AS (SELECT CAST(unnest(range(0, {_PQ_M})) AS BIGINT) AS m),
    scb AS (SELECT code_id, m,
                   e[m * {_PQ_SUB} + 1 : (m + 1) * {_PQ_SUB}] AS cw
            FROM cbv CROSS JOIN ms),
    vsub AS (SELECT vec_id, m,
                    e[m * {_PQ_SUB} + 1 : (m + 1) * {_PQ_SUB}] AS vs
             FROM v CROSS JOIN ms),
    enc AS (
      SELECT vec_id, m, code_id, cw FROM (
        SELECT vsub.vec_id, vsub.m, scb.code_id, scb.cw,
               row_number() OVER (
                 PARTITION BY vsub.vec_id, vsub.m
                 ORDER BY list_aggregate(
                   list_transform(range(1, {_PQ_SUB + 1}),
                                  i -> (vs[i] - cw[i]) * (vs[i] - cw[i])),
                   'sum') ASC, scb.code_id ASC) AS rn
        FROM vsub JOIN scb USING (m))
      WHERE rn = 1),
    dec AS (
      SELECT vec_id, flatten(list(cw ORDER BY m)) AS d
      FROM enc GROUP BY vec_id),
    n AS (
      SELECT vec_id, d,
             sqrt(list_aggregate(list_transform(d, x -> x * x), 'sum')) AS nrm
      FROM dec
      WHERE list_aggregate(list_transform(d, x -> x * x), 'sum') > 0)
"""


def _pq_codebook(v: DataFrame) -> tuple[DataFrame, DataFrame]:
    """CODEBOOK half of the PQ build (``_pq_encode`` is the encode
    half; ``_pq_parts`` composes them): the subspace codebook as BOTH
    its artifact table (``code_id, m, cw`` — a CONSTANT _PQ_M·_PQ_K =
    256 rows) and its single broadcastable array row ``cb_arr`` for
    in-row encoding. The halves are separate so the persisted variants
    can write each as its own artifact; the codes (``vec_id, m,
    code_id``) are the only corpus-sized thing a PQ index keeps
    resident, 8 bytes/vector bit-packed. ``cb_arr`` is sorted by (m,
    code_id), so the in-row encode's strict ``<`` keeps the first
    minimum — the oracle's (d2 ASC, code_id ASC) tie-break."""
    sub = (
        f"transform(sequence(0, {_PQ_M - 1}), "
        f"m -> struct(m AS m, slice({{col}}, m * {_PQ_SUB} + 1, {_PQ_SUB}) AS s))"
    )
    # dense code ids for the codebook rows: ONE bounded TakeOrdered pull
    # of ≤_PQ_K vec_ids (the codebook IS a driver-sized index artifact —
    # same discipline as the BLAS probe cap), re-emitted as a broadcast
    # mapping. The previous unpartitioned row_number() window computed
    # the same ids but spammed WindowExec single-partition warnings over
    # a frame whose size is a CONSTANT, drowning out the warning's real
    # signal (an accidental corpus-wide window) in bench logs.
    cb_ids = (
        v.where(_PQ_CB_FILTER)
        .select("vec_id")
        .orderBy("vec_id")
        .limit(_PQ_K)
        .collect()
    )
    idmap = v.sparkSession.createDataFrame(
        [(r["vec_id"], i) for i, r in enumerate(cb_ids)],
        "vec_id bigint, code_id int",
    )
    cb = v.join(F.broadcast(idmap), "vec_id").select("vec_id", "e", "code_id")
    sub_cb = cb.select(
        "code_id", F.explode(F.expr(sub.format(col="e"))).alias("sc")
    ).select("code_id", F.col("sc.m").alias("m"), F.col("sc.s").alias("cw"))
    # the whole codebook as ONE broadcastable array row, sorted by
    # (m, code_id) so the in-row fold visits candidates in the window
    # formulation's exact tie-break order
    cb_row = sub_cb.agg(
        F.array_sort(F.collect_list(F.struct("m", "code_id", "cw"))).alias(
            "cb_arr"
        )
    )
    return sub_cb, cb_row


def _pq_enc_expr() -> str:
    """The in-row PQ encode expression — per vector, the array of
    ``(m, code_id)`` structs in subspace order, arg-min'd against the
    broadcast ``cb_arr`` codebook row. Single-sourced so the
    exploded-artifact encode (``_pq_encode``) and the in-row
    encode+decode (``_pq_index``) can never diverge arithmetically.

    d2 is bound ONCE per candidate by materializing (code_id, d2)
    structs in a transform before the fold, which then compares
    precomputed doubles only: each vector pays M·K subspace distances,
    map-side, with zero shuffles."""
    d2_of = (
        f"aggregate(zip_with(slice(e, m * {_PQ_SUB} + 1, {_PQ_SUB}), c.cw, "
        "(x, w) -> (x - w) * (x - w)), cast(0.0 as double), (a, t) -> a + t)"
    )
    return (
        f"transform(sequence(0, {_PQ_M - 1}), m -> named_struct("
        "'m', m, "
        "'code_id', aggregate("
        "transform(filter(cb_arr, c -> c.m = m), "
        f"c -> named_struct('id', c.code_id, 'd', {d2_of})), "
        "named_struct('id', -1, 'd', cast('Infinity' as double)), "
        "(acc, c) -> case when c.d < acc.d then c else acc end"
        ").id))"
    )


def _pq_encode(vdf: DataFrame, cb_row: DataFrame) -> DataFrame:
    """ENCODE-ONLY half of the PQ build: encode any (vec_id, e) frame
    against a FROZEN codebook row — the production shape, where the codebook is
    trained once at index build and every later corpus slice (the full
    build, a CDC delta, a backfill) encodes against it. Cost is
    O(|vdf|·M·K) map-side with zero shuffles, so a delta encodes in
    time proportional to the delta, never the corpus
    (q_sim_ivf_pq_cdc's contract)."""
    return (
        vdf.crossJoin(F.broadcast(cb_row))
        .select("vec_id", F.explode(F.expr(_pq_enc_expr())).alias("mc"))
        .select(
            "vec_id",
            F.col("mc.m").alias("m"),
            F.col("mc.code_id").alias("code_id"),
        )
    )


def _pq_parts(v: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Codebook artifact + full-corpus codes (see ``_pq_codebook``)."""
    sub_cb, cb_row = _pq_codebook(v)
    return sub_cb, _pq_encode(v.select("vec_id", "e"), cb_row)


def _pq_decode(codes: DataFrame, sub_cb: DataFrame) -> DataFrame:
    """Decode PQ codes to per-vector reconstructions ``(vec_id, d,
    nrm)`` — codes join the BROADCAST codebook on (m, code_id) (the
    production decode: the codebook is a constant-size table resident
    on every executor; no corpus-sized side ever broadcasts), subspace
    words concatenate in m order, and zero-reconstruction vectors drop
    exactly as zero-norm raw vectors do in _vecs."""
    dec = (
        codes.join(F.broadcast(sub_cb), ["m", "code_id"])
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "cw"))),
                    lambda s: s.cw,
                )
            ).alias("d")
        )
    )
    return dec.withColumn(
        "nrm",
        F.sqrt(F.aggregate(F.col("d"), F.lit(0.0), lambda a, x: a + x * x)),
    ).where(F.col("nrm") > 0.0)


def _pq_index(v: DataFrame) -> DataFrame:
    """The PQ index side shared by q_sim_pq / q_sim_pq_rerank /
    q_sim_ivf_pq / _multiprobe: encode every vector and decode it to
    the reconstruction ``(vec_id, d, nrm)``.

    Encode AND decode happen inside the vector's own row, with no
    corpus-sized exchange: ``cb_arr`` is sorted by (m, code_id) and
    code_id is dense 0..k-1 per m (enumerated over the collected
    codebook ids), so codeword (m, code_id) sits at index
    m·(size/M) + code_id, an O(1) lookup. Values equal the exploded
    artifact path's (``_pq_encode`` → ``_pq_decode``, the storage
    format the persisted ops use): same argmins (``_pq_enc_expr``),
    same m-order concatenation, same zero-norm drop."""
    _, cb_row = _pq_codebook(v)
    dec_expr = (
        f"flatten(transform({_pq_enc_expr()}, s -> "
        f"element_at(cb_arr, cast(s.m * (size(cb_arr) div {_PQ_M}) "
        "+ s.code_id + 1 as int)).cw))"
    )
    return (
        v.select("vec_id", "e")
        .crossJoin(F.broadcast(cb_row))
        .select("vec_id", F.expr(dec_expr).alias("d"))
        .withColumn(
            "nrm",
            F.sqrt(F.aggregate(F.col("d"), F.lit(0.0), lambda a, x: a + x * x)),
        )
        .where(F.col("nrm") > 0.0)
    )


@register(
    "q_sim_pq",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    {_PQ_SUBS_SQL},
    p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE {_PROBE_FILTER}),
    scored AS (
      SELECT p.probe_id, n.vec_id AS neighbor_id,
             list_dot_product(p.pe, n.d)
               / (sqrt(list_aggregate(list_transform(p.pe, x -> x * x),
                                      'sum')) * n.nrm) AS cos_raw,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_dot_product(p.pe, n.d)
                                  / (sqrt(list_aggregate(
                                       list_transform(p.pe, x -> x * x),
                                       'sum')) * n.nrm) DESC,
                                         n.vec_id ASC) AS rank_pos
      FROM p JOIN n ON n.vec_id <> p.probe_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_K}
    """,
)
def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the 10B+-vector memory path SCALE.md
    promises): each corpus vector is encoded as ``_PQ_M`` codebook ids —
    per 4-dim subspace, the L2-nearest of 16 deterministic codewords —
    so the index stores 8 bytes/vector instead of 256 (32×; int8 scalar
    quantization, ``q_sim_quantized``, only reaches 4×). Queries follow
    FAISS's asymmetric scheme: the probe stays full-precision and is
    ranked against the DECODED corpus (concatenated codewords), which is
    exactly the reconstruction an ADC lookup table scores against.

    Plan shape: the codebook is a bounded filter → ORDER BY → LIMIT
    sample broadcast as one array row; encode and decode run in-row
    (``_pq_index``), then ``_scan`` and ``_top_k`` as in q_sim_topk —
    all higher-order JVM expressions, no Python. At 100 TB the encode
    pass runs once at index build (the persisted twins), and the
    broadcast side never grows with the corpus. Determinism: argmin and
    ranking tie-break on code_id / vec_id; both engines fold the same
    subspace sums in order, and reported cosines round to 4dp.

    Recall caveat, measured: ~0.26 recall@5 on this SYNTHETIC corpus —
    i.i.d. random vectors are PQ's worst case (no low-dimensional
    structure for the codebooks to exploit; every subspace is pure
    noise), so the number is a floor, not the expectation for real
    embedding manifolds. The production levers are the standard ones —
    k-means codebooks, more subspaces, and exact re-ranking of the PQ
    top-R (FAISS refine) — none of which change the plan shape the
    gate pins here."""
    v = _vecs(spark, sf_dir)
    cos = _cosine_pre("pe", "d", "pn", "nrm")
    return _top_k(_scan(_probes(v), _pq_index(v), cos), _K)


_PQ_RERANK_R = 25


@register(
    "q_sim_pq_rerank",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    {_PQ_SUBS_SQL},
    p AS (SELECT vec_id AS probe_id, e AS pe,
                 sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum'))
                   AS pn
          FROM v WHERE {_PROBE_FILTER}),
    approx AS (
      SELECT p.probe_id, n.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_dot_product(p.pe, n.d)
                                         / (p.pn * n.nrm) DESC,
                                         n.vec_id ASC) AS rpq
      FROM p JOIN n ON n.vec_id <> p.probe_id),
    cand AS (SELECT probe_id, neighbor_id FROM approx
             WHERE rpq <= {_PQ_RERANK_R}),
    rescored AS (
      SELECT c.probe_id, c.neighbor_id,
             list_cosine_similarity(p.pe, nv.e) AS cos_raw,
             row_number() OVER (PARTITION BY c.probe_id
                                ORDER BY list_cosine_similarity(p.pe, nv.e)
                                         DESC, c.neighbor_id ASC) AS rank_pos
      FROM cand c
      JOIN p ON p.probe_id = c.probe_id
      JOIN v nv ON nv.vec_id = c.neighbor_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM rescored WHERE rank_pos <= {_K}
    """,
)
def q_sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search with EXACT re-ranking (the FAISS refine pattern): the
    8-byte PQ index nominates each probe's top-{_PQ_RERANK_R}
    candidates, then only those {_PQ_RERANK_R} rows per probe are
    rescored against their full-precision vectors and the true top-k
    returned. This is how PQ is actually deployed: the quantized scan
    bounds the expensive exact work at O(|probes|·R) instead of
    O(|probes|·|corpus|) — at 10B vectors the refine step touches
    0.0000025% of the corpus — and buys back most of the recall the
    4-bit codes lose (measured in tests: ≥2× raw PQ's recall@5 on
    this worst-case random corpus)."""
    v = _vecs(spark, sf_dir)
    n = _pq_index(v)
    aw = Window.partitionBy("probe_id").orderBy(
        F.col("cos_pq").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        F.broadcast(_probes(v))
        .join(n, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "pe",
            "pn",
            F.col("vec_id").alias("neighbor_id"),
            _cosine_pre("pe", "d", "pn", "nrm").alias("cos_pq"),
        )
        .withColumn("rpq", F.row_number().over(aw))
        .where(F.col("rpq") <= _PQ_RERANK_R)
        .select("probe_id", "pe", "pn", "neighbor_id")
    )
    return _top_k(_rescore(cand, v), _K)


def _rescore(cand: DataFrame, v: DataFrame) -> DataFrame:
    """Exact re-scoring of a candidate set ``(probe_id, pe, pn,
    neighbor_id)`` against the full-precision corpus ``v``: ``(probe_id,
    neighbor_id, cos_raw)``. The refine stage of both PQ re-rankers; it
    fetches full vectors only for the candidates (R per probe)."""
    nv = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("ne"),
        F.col("nrm").alias("nn"),
    )
    return cand.join(nv, "neighbor_id").select(
        "probe_id",
        "neighbor_id",
        _cosine_pre("pe", "ne", "pn", "nn").alias("cos_raw"),
    )


def _register_recall_report() -> None:
    """Registered via a builder so the oracle can REUSE the already-
    registered q_sim_topk / q_sim_ivf / q_sim_pq oracle texts verbatim
    (nested as CTE bodies) — the report measures exactly the queries the
    gate hash-checks, not a re-derivation that could drift."""
    from copy_databasetables_spark.operators import ORACLES

    exact_sql = ORACLES["q_sim_topk"]
    ivf_sql = ORACLES["q_sim_ivf"]
    pq_sql = ORACLES["q_sim_pq"]
    pqr_sql = ORACLES["q_sim_pq_rerank"]
    oracle = f"""
    WITH exact_q AS ({exact_sql}),
    ivf_q AS ({ivf_sql}),
    pq_q AS ({pq_sql}),
    pqr_q AS ({pqr_sql}),
    e AS (SELECT probe_id, neighbor_id FROM exact_q
          WHERE rank_pos <= {_IVF_K}),
    legs AS (
      SELECT 'ivf' AS method, e.probe_id,
             COUNT(*) AS n_exact,
             CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM e LEFT JOIN ivf_q a
        ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.probe_id
      UNION ALL
      SELECT 'pq', e.probe_id, COUNT(*),
             CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM e LEFT JOIN pq_q a
        ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.probe_id
      UNION ALL
      SELECT 'pq_rerank', e.probe_id, COUNT(*),
             CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM e LEFT JOIN pqr_q a
        ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
      GROUP BY e.probe_id)
    SELECT method, probe_id, n_exact, n_hit,
           CAST(FLOOR(10000.0 * n_hit / n_exact) AS BIGINT) AS recall_bp
    FROM legs
    """

    @register("q_sim_recall_report", oracle=oracle)
    def q_sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """ANN recall report: per probe, how many of the EXACT top-3
        neighbors each approximate index (IVF-Flat, PQ16x4) actually
        returned — the continuous-eval job a production ANN deployment
        runs on every index build, promoted from a unit test to a
        first-class hash-checked operator. recall_bp is floor-basis-
        points so the metric is integer-exact cross-engine.

        Composition, not re-derivation: the Spark side calls the
        REGISTERED q_sim_topk/q_sim_ivf/q_sim_pq functions and the
        oracle nests their registered oracle texts as CTEs, so this
        report stays correct by construction when an index
        implementation changes. Scale: the joined tables are
        |probes|·k rows — the report costs nothing next to the
        searches it audits."""
        from copy_databasetables_spark.operators import QUERIES

        # all three union branches read the exact ground truth; the
        # checkpoint (|probes|·k rows) runs its brute-force search once
        e = ckpt(
            QUERIES["q_sim_topk"](spark, sf_dir)
            .where(F.col("rank_pos") <= _IVF_K)
            .select("probe_id", "neighbor_id")
        )
        legs = []
        for method in ("ivf", "pq", "pq_rerank"):
            a = QUERIES[f"q_sim_{method}"](spark, sf_dir).select(
                F.col("probe_id").alias("ap"), F.col("neighbor_id").alias("an")
            )
            legs.append(
                e.join(
                    a,
                    (F.col("probe_id") == F.col("ap"))
                    & (F.col("neighbor_id") == F.col("an")),
                    "left",
                )
                .groupBy("probe_id")
                .agg(
                    F.count(F.lit(1)).alias("n_exact"),
                    F.sum(
                        F.when(F.col("an").isNotNull(), 1).otherwise(0)
                    ).alias("n_hit"),
                )
                .select(
                    F.lit(method).alias("method"),
                    "probe_id",
                    "n_exact",
                    "n_hit",
                    F.floor(10000.0 * F.col("n_hit") / F.col("n_exact")).alias(
                        "recall_bp"
                    ),
                )
            )
        out = legs[0]
        for leg in legs[1:]:
            out = out.unionByName(leg)
        return out


_register_recall_report()


#: hybrid-search metadata predicate (applied to the documents row of
#: each corpus vector, vec_id = doc_id): language allowlist + a minimum
#: length — the shape of a real retrieval filter ("English, non-stub").
_HYBRID_PRED_SQL = "lang IN ('en', 'de') AND n_chars >= 100"


@register(
    "q_sim_hybrid",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    meta AS (SELECT doc_id, lang FROM documents
             WHERE {_HYBRID_PRED_SQL}),
    corpus AS (SELECT v.*, meta.lang FROM v
               JOIN meta ON v.vec_id = meta.doc_id),
    p AS (SELECT * FROM v WHERE {_PROBE_FILTER}),
    scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id, c.lang,
             list_cosine_similarity(p.e, c.e) AS cos_raw,
             row_number() OVER (PARTITION BY p.vec_id
                                ORDER BY list_cosine_similarity(p.e, c.e) DESC,
                                         c.vec_id ASC) AS rank_pos
      FROM p JOIN corpus c ON c.vec_id <> p.vec_id)
    SELECT probe_id, neighbor_id, lang, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_K}
    """,
)
def q_sim_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered (hybrid) vector search: per-probe cosine top-k
    restricted to corpus vectors whose document row passes a structured
    predicate (language allowlist + length floor). This is the
    filtered-ANN primitive behind every production retrieval stack —
    "nearest English non-stub documents", not "nearest then hope the
    filter leaves k".

    Semantics: PRE-filtering. The predicate restricts the candidate set
    BEFORE ranking, so every probe gets exactly k qualifying neighbors
    (post-filtering an unfiltered top-k would return <k rows whenever
    the filter knocks out winners — wrong, and the standard bug).

    Scale shape (100 TB): the predicate lands on the documents parquet
    scan as pushed filters (lang/n_chars row-group pruning — no
    qualifying-row I/O amplification); the metadata⋈vector attach is an
    equi-join on vec_id = doc_id (co-partitionable, or free when
    metadata columns live denormalized next to the vectors, the usual
    lakehouse layout); the probe side stays a broadcast. The same
    pre-filter composed into the IVF path ships as
    ``q_sim_hybrid_ivf`` (inverted lists filtered before scoring) —
    this operator pins the exact semantics that approximation is
    judged against."""
    v = _vecs(spark, sf_dir)
    meta = (
        load_table(spark, sf_dir, "documents")
        .where(F.expr(_HYBRID_PRED_SQL))
        .select(F.col("doc_id").alias("vec_id"), "lang")
    )
    corpus = v.join(meta, "vec_id")
    return _top_k(_scan(_probes(v), corpus, carry=["lang"]), _K, "lang")


def _km_assign(v: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd assignment step: nearest centroid by squared L2, cid
    ascending as the total tie-break. The centroid side is a FIXED ≤K
    rows (broadcast); the distance is one zip_with fold per (vector,
    centroid) in whole-stage codegen.

    Emits BOTH the raw double ``d2`` (drives the argmin — gaps on this
    data are ~1e-1, nine orders above fold-order ulp noise) and ``d2q``,
    the int64 sum of PER-DIMENSION quantized terms
    FLOOR((x−c)²·10⁶+0.5). Each per-dim term is a single IEEE op chain
    over identical inputs in Spark and DuckDB — no summation happens
    before the quantize — so both engines fold bit-identical integers
    and the downstream inertia hash cannot flip at a FLOOR boundary
    (quantizing after the sum could: the engines' sum orders can differ
    by an ulp exactly at a .5 boundary)."""
    d2 = F.aggregate(
        F.zip_with("e", "ce", lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d2q = F.aggregate(
        F.zip_with(
            "e",
            "ce",
            lambda x, c: F.floor((x - c) * (x - c) * _SCALE + F.lit(0.5)).cast(
                "bigint"
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cid").asc())
    return (
        v.crossJoin(F.broadcast(cent))
        .withColumn("d2", d2)
        .withColumn("d2q", d2q)
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("vec_id", "cid", "d2", "d2q")
    )


@register(
    "q_emb_kmeans",
    oracle=f"""
    WITH v AS MATERIALIZED ({_V_SQL}),
    c0 AS MATERIALIZED ({_C_SQL}),
    ve AS MATERIALIZED (
      SELECT vec_id, CAST(UNNEST(range(0, len(e))) AS INT) AS pos,
             UNNEST(e) AS x
      FROM v),
    c0e AS MATERIALIZED (
      SELECT cid, CAST(UNNEST(range(0, len(ce))) AS INT) AS pos,
             UNNEST(ce) AS cval
      FROM c0),
    d1 AS (SELECT ve.vec_id, c.cid,
                  SUM((ve.x - c.cval) * (ve.x - c.cval)) AS d2
           FROM ve JOIN c0e c ON ve.pos = c.pos
           GROUP BY ve.vec_id, c.cid),
    a1 AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cid ASC) AS rn
        FROM d1)
      WHERE rn = 1),
    m1 AS (SELECT a1.cid, ve.pos,
                  CAST(SUM(CAST(FLOOR(ve.x * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                      / (1e6 * COUNT(*)) AS mval
           FROM a1 JOIN ve USING (vec_id) GROUP BY a1.cid, ve.pos),
    c1e AS MATERIALIZED (
      SELECT c0e.cid, c0e.pos, COALESCE(m1.mval, c0e.cval) AS cval
      FROM c0e LEFT JOIN m1 ON c0e.cid = m1.cid AND c0e.pos = m1.pos),
    d2t AS (SELECT ve.vec_id, c.cid,
                   SUM((ve.x - c.cval) * (ve.x - c.cval)) AS d2,
                   SUM(CAST(FLOOR((ve.x - c.cval) * (ve.x - c.cval) * 1e6
                                  + 0.5) AS BIGINT)) AS d2q
            FROM ve JOIN c1e c ON ve.pos = c.pos
            GROUP BY ve.vec_id, c.cid),
    a2 AS (SELECT vec_id, cid, d2q FROM (
             SELECT vec_id, cid, d2q,
                    row_number() OVER (PARTITION BY vec_id
                                       ORDER BY d2 ASC, cid ASC) AS rn
             FROM d2t)
           WHERE rn = 1)
    SELECT cid, COUNT(*) AS n_assigned,
           round(CAST(SUM(d2q) AS DOUBLE) / 1e6, 6) AS inertia
    FROM a2 GROUP BY cid
    """,
)
def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means over the embedding corpus
    (assign → quantized-mean update → reassign), reporting per-cluster
    population and inertia — the canonical iterative-ML-on-Spark shape
    (centroid training for IVF index builds, semantic corpus
    clustering, diversity sampling).

    Scale shape (100 TB): the centroid set is FIXED-K (the same
    `_centroids` bound as IVF — the broadcast is O(K·dim) bytes at any
    corpus size); each iteration is one broadcast-assign pass over the
    corpus plus one (cid, pos)-keyed partial aggregate whose shuffle
    carries K·dim partial sums, not vectors. The iteration count is a
    FIXED constant in the plan (unrolled, like the CC oracle's rounds)
    — no driver-side data ever moves, and per-iteration cost is
    linear in corpus bytes.

    Determinism across engines: new centroid components are quantized
    means (FLOOR(x·10⁶+0.5) int64 sums — the engine's scaled-int64
    convention, bit-identical in Spark and DuckDB regardless of
    partition/summation order), so iteration-2 distances are computed
    against identical centroid doubles on both sides; assignment argmin
    gaps (~1e-1 on this data) sit nine orders above fold-order ulp
    noise. Inertia sums PER-DIMENSION quantized terms (``d2q`` in
    ``_km_assign``): each FLOOR((x−c)²·10⁶+0.5) is computed from
    identical doubles with NO prior summation, so the int64 folds are
    bit-identical in both engines. Empty clusters keep their previous
    centroid (COALESCE) — the standard Lloyd fallback, applied
    identically in both engines."""
    v = _vecs(spark, sf_dir)
    c0 = _centroids(v).select("cid", "ce")
    c0_long = c0.select("cid", F.posexplode("ce").alias("pos", "cval"))

    a1 = _km_assign(v, c0).select("vec_id", "cid")
    members = a1.join(v, "vec_id").select("cid", F.posexplode("e").alias("pos", "x"))
    m1 = members.groupBy("cid", "pos").agg(
        (
            F.sum(_scaled(F.col("x"))).cast("double")
            / (F.lit(float(_SCALE)) * F.count(F.lit(1)))
        ).alias("mval")
    )
    c1 = (
        c0_long.join(m1, ["cid", "pos"], "left")
        .select("cid", "pos", F.coalesce("mval", "cval").alias("cval"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))),
                lambda s: s["cval"],
            ).alias("ce")
        )
    )
    a2 = _km_assign(v, c1)
    return a2.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.sum("d2q").cast("double") / float(_SCALE), 6).alias("inertia"),
    )


@register(
    "q_sim_hybrid_ivf",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    c AS ({_C_SQL}),
    assign AS ({_ASSIGN_CTE}),
    meta AS (SELECT doc_id, lang FROM documents
             WHERE {_HYBRID_PRED_SQL}),
    p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE {_PROBE_FILTER}),
    scored AS (
      SELECT p.probe_id, n.vec_id AS neighbor_id, meta.lang,
             list_cosine_similarity(p.pe, nv.e) AS cos_raw,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_cosine_similarity(p.pe, nv.e) DESC,
                                         n.vec_id ASC) AS rank_pos
      FROM p
      JOIN assign pa ON pa.vec_id = p.probe_id
      JOIN assign n  ON n.cid = pa.cid AND n.vec_id <> p.probe_id
      JOIN meta      ON meta.doc_id = n.vec_id
      JOIN v nv      ON nv.vec_id = n.vec_id)
    SELECT probe_id, neighbor_id, lang, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_IVF_K}
    """,
)
def q_sim_hybrid_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search INSIDE the IVF index: q_sim_hybrid's metadata
    pre-filter composed with q_sim_ivf's inverted-list search — the
    deployment shape for filtered ANN at corpus scale. The inverted
    lists are filtered to qualifying members BEFORE scoring (so every
    probe gets a full k of qualifying in-cell neighbors), the documents
    predicate still pushes to the parquet scan, and the search cost is
    the IVF cost times the predicate's selectivity — filtering makes
    the bucketed path CHEAPER, never wider. q_sim_hybrid stays the
    exact-semantics twin this approximation is judged against."""
    meta = (
        load_table(spark, sf_dir, "documents")
        .where(F.expr(_HYBRID_PRED_SQL))
        .select(F.col("doc_id").alias("neighbor_id"), "lang")
    )
    v = _vecs(spark, sf_dir)
    c = _centroids(v)
    return _ivf_top_k(_probes(v), c, _ivf_assign(v, c), v, meta=meta)


#: Reciprocal-rank-fusion constants: the canonical damping constant 60
#: (Cormack, Clarke & Büttcher 2009 — "Reciprocal rank fusion
#: outperforms Condorcet and individual rank learning methods"), each
#: ranker contributing its top-20, fused top-10 reported.
_RRF_C = 60
_RRF_N = 20
_RRF_K = 10


@register(
    "q_sim_rrf",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    p AS (SELECT * FROM v WHERE {_PROBE_FILTER}),
    sem AS (
      SELECT * FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               CAST(row_number() OVER (PARTITION BY p.vec_id
                    ORDER BY list_cosine_similarity(p.e, c.e) DESC,
                             c.vec_id ASC) AS BIGINT) AS r_sem
        FROM p JOIN v c ON c.vec_id <> p.vec_id)
      WHERE r_sem <= {_RRF_N}),
    t AS (SELECT doc_id,
                 list_transform(list_distinct(string_split(text, ' ')),
                                t -> CAST(concat('0x', substring(md5(t), 1, 15))
                                          AS BIGINT)) AS tk,
                 len(list_distinct(string_split(text, ' '))) AS sz
          FROM documents),
    q AS (SELECT * FROM t WHERE doc_id % 50 = 0),
    lex AS (
      SELECT * FROM (
        SELECT q.doc_id AS probe_id, c.doc_id AS cand_id,
               CAST(row_number() OVER (PARTITION BY q.doc_id
                    ORDER BY len(list_intersect(q.tk, c.tk))::DOUBLE
                             / (q.sz + c.sz
                                - len(list_intersect(q.tk, c.tk))) DESC,
                             c.doc_id ASC) AS BIGINT) AS r_lex
        FROM q JOIN t c ON c.doc_id <> q.doc_id)
      WHERE r_lex <= {_RRF_N}),
    fused AS (
      SELECT COALESCE(s.probe_id, l.probe_id) AS probe_id,
             COALESCE(s.cand_id, l.cand_id) AS cand_id,
             s.r_sem, l.r_lex,
             COALESCE(1.0 / ({_RRF_C} + s.r_sem), 0)
               + COALESCE(1.0 / ({_RRF_C} + l.r_lex), 0) AS rrf_raw
      FROM sem s FULL JOIN lex l
        ON s.probe_id = l.probe_id AND s.cand_id = l.cand_id)
    SELECT probe_id, cand_id, r_sem, r_lex,
           round(rrf_raw, 6) AS rrf, fused_rank
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
               ORDER BY rrf_raw DESC, cand_id ASC) AS BIGINT) AS fused_rank
          FROM fused)
    WHERE fused_rank <= {_RRF_K}
    """,
)
def q_sim_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a lexical and a semantic ranking — the
    standard production hybrid-retrieval combiner (score =
    Σ 1/(60 + rank), summed over the rankers that retrieved the
    candidate in their top-N). Distinct from q_sim_hybrid (metadata
    PRE-FILTERED vector search): RRF fuses two INDEPENDENT rankers —
    here per-probe cosine over embeddings and per-probe token-set
    Jaccard over the probe's own document (more-like-this retrieval) —
    rewarding candidates both rankers surface without ever comparing
    their incommensurable scores.

    Exactness: ranks are integers (row_number with id tie-break);
    1/(60+r) and the ≤2-term sum are single identical IEEE expressions
    per row on both engines — no accumulation-order ambiguity — and the
    final fused ordering ties break on cand_id.

    Scale shape (100 TB): each leg here is the EXACT reference
    formulation (probe batch broadcast against the corpus, one window
    per probe); in deployment the semantic leg swaps in q_sim_ivf's
    bucketed search and the lexical leg q_text_bm25_multi's inverted
    postings, while THIS operator's fusion — an equi-join of two
    (probe, cand, rank) tables + a per-probe window over ≤2N rows —
    is linear in retrieved rows and unchanged."""
    v = _vecs(spark, sf_dir)
    wsem = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("cand_id").asc()
    )
    sem = (
        F.broadcast(_probes(v))
        .join(v, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            _cosine_pre("pe", "e", "pn", "nrm").alias("cos_raw"),
        )
        .withColumn("r_sem", F.row_number().over(wsem).cast("bigint"))
        .where(F.col("r_sem") <= _RRF_N)
        .select("probe_id", "cand_id", "r_sem")
    )
    # tokens hashed to 60-bit ints (the dedup module's portable md5
    # idiom): distinct tokens ↔ distinct hashes, so set sizes and
    # intersections — hence every Jaccard and every rank — are
    # unchanged, while the per-pair array_intersect compares int64s
    # instead of strings across |probes|·|corpus| pairs.
    t = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)  # see _vecs
        .select(
            "doc_id",
            F.expr(
                "transform(array_distinct(split(text, ' ')), "
                "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
            ).alias("tk"),
        )
        .withColumn("sz", F.size("tk"))
    )
    q = t.where("doc_id % 50 = 0").select(
        F.col("doc_id").alias("probe_id"),
        F.col("tk").alias("qtk"),
        F.col("sz").alias("qsz"),
    )
    inter = F.size(F.array_intersect("qtk", "tk"))
    wlex = Window.partitionBy("probe_id").orderBy(
        F.col("jac").desc(), F.col("cand_id").asc()
    )
    lex = (
        F.broadcast(q)
        .join(t, F.col("doc_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("doc_id").alias("cand_id"),
            (inter / (F.col("qsz") + F.col("sz") - inter)).alias("jac"),
        )
        .withColumn("r_lex", F.row_number().over(wlex).cast("bigint"))
        .where(F.col("r_lex") <= _RRF_N)
        .select("probe_id", "cand_id", "r_lex")
    )
    fused = sem.join(lex, ["probe_id", "cand_id"], "full").withColumn(
        "rrf_raw",
        F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("r_sem")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(_RRF_C) + F.col("r_lex")), F.lit(0.0)),
    )
    wf = Window.partitionBy("probe_id").orderBy(
        F.col("rrf_raw").desc(), F.col("cand_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("bigint"))
        .where(F.col("fused_rank") <= _RRF_K)
        .select(
            "probe_id",
            "cand_id",
            "r_sem",
            "r_lex",
            F.round("rrf_raw", 6).alias("rrf"),
            "fused_rank",
        )
    )


#: covariance quantization: products of unit-scale components carry ~1e-9
#: resolution. The int64 headroom claim assumes UNIT-NORM embeddings
#: (per-component ~1/sqrt(d), so a cell gains ~1e9/d per row → exact to
#: ~1e12 rows at d=64); in general the bound is ~2^63 / (max|x_i·x_j|·1e9)
#: rows — O(1)-scale components overflow near ~9e9 rows, at which point
#: swap the accumulator to DECIMAL (SURVEY.md §7.3#1's standing fallback).
_COV_SCALE = 1_000_000_000


def _gram_partials(batches):
    """Arrow-batched partial Gram accumulator: per batch, emit the
    upper-triangular (i, j) partial sums of FLOOR(x_i·x_j·10⁹ + 0.5)
    plus the matching per-dimension first-moment partials and the batch
    row count — d(d+1)/2 rows per BATCH regardless of batch size. The
    outer products run through numpy in row chunks (512×d×d doubles ≈
    16 MB at d=64) so the quantization stays per-element (the portable
    convention) without materializing an n×d×d tensor."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        X = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["e"]]
        )
        n, d = X.shape
        sxy = np.zeros((d, d), dtype=np.int64)
        sx = np.zeros(d, dtype=np.int64)
        for lo in range(0, n, 512):
            c = X[lo : lo + 512]
            outer = c[:, :, None] * c[:, None, :]
            sxy += np.floor(outer * _COV_SCALE + 0.5).astype(np.int64).sum(axis=0)
            sx += np.floor(c * _COV_SCALE + 0.5).astype(np.int64).sum(axis=0)
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": iu.astype("int32"),
                "j": ju.astype("int32"),
                "sxy_part": sxy[iu, ju],
                "sx_i_part": sx[iu],
                "sx_j_part": sx[ju],
                "n_part": np.full(len(iu), n, dtype=np.int64),
            }
        )


@register(
    "q_emb_covariance",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    ex AS (SELECT vec_id,
                  CAST(UNNEST(range(0, len(e))) AS INT) AS pos,
                  UNNEST(e) AS x
           FROM v),
    s AS (SELECT pos,
                 SUM(CAST(FLOOR(x * {_COV_SCALE} + 0.5) AS BIGINT)) AS sx,
                 COUNT(*) AS n
          FROM ex GROUP BY pos),
    p AS (SELECT a.pos AS i, b.pos AS j,
                 SUM(CAST(FLOOR(a.x * b.x * {_COV_SCALE} + 0.5)
                     AS BIGINT)) AS sxy
          FROM ex a JOIN ex b
            ON a.vec_id = b.vec_id AND b.pos >= a.pos
          GROUP BY a.pos, b.pos)
    SELECT p.i, p.j, si.n AS n_vectors,
           (round((CAST(p.sxy AS DOUBLE) / {_COV_SCALE}) / si.n
                 - (CAST(si.sx AS DOUBLE) / {_COV_SCALE} / si.n)
                   * (CAST(sj.sx AS DOUBLE) / {_COV_SCALE} / sj.n),
                 6) + 0.0) AS cov
    FROM p JOIN s si ON si.pos = p.i JOIN s sj ON sj.pos = p.j
    """,
)
def q_emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d×d covariance matrix of the embedding corpus (upper
    triangle) — the PCA/whitening precursor and THE embedding-quality
    monitor (collapsed dimensions and dominant-direction drift both
    read straight off it; a near-rank-deficient covariance is how
    anisotropic embedding degradation shows up in production).

    The 100 TB shape is the textbook distributed Gram: each Arrow batch
    reduces to d(d+1)/2 quantized partial sums MAP-SIDE (_gram_partials
    — BLAS-style chunked outer products in numpy), so the shuffle
    carries ~2080 int64 rows per batch at d=64, never vectors; one
    groupBy(i, j) sums the partials. Compare the oracle's shape — a
    positional self-join producing n·d(d+1)/2 intermediate rows — which
    is fine single-node but exactly what must NOT shuffle at scale.
    Determinism: per-element FLOOR(x·10⁹ + 0.5) quantization before any
    cross-row sum (both engines), making the int64 accumulation
    partition-order independent; the final covariance double derives
    from the same three integers via an identical expression tree,
    rounded to 6."""
    e = load_table(spark, sf_dir, "embeddings").select(
        F.expr("transform(embedding, x -> cast(x as double))").alias("e")
    )
    partials = e.mapInPandas(
        _gram_partials,
        schema=(
            "i int, j int, sxy_part long, sx_i_part long, "
            "sx_j_part long, n_part long"
        ),
    )
    agg = partials.groupBy("i", "j").agg(
        F.sum("sxy_part").alias("sxy"),
        F.sum("sx_i_part").alias("sx_i"),
        F.sum("sx_j_part").alias("sx_j"),
        F.sum("n_part").alias("n_vectors"),
    )
    sc = float(_COV_SCALE)
    n = F.col("n_vectors")
    cov = (F.col("sxy").cast("double") / sc) / n - (
        F.col("sx_i").cast("double") / sc / n
    ) * (F.col("sx_j").cast("double") / sc / n)
    return agg.select("i", "j", "n_vectors", rz(cov, 6).alias("cov"))


# --------------------------------------------------------------------------
# q_emb_top_eigvec and the PCA family — power iteration on the covariance.
# --------------------------------------------------------------------------

_PI_ITERS = 6
#: per-term quantization for the matrix-vector and norm sums: int64
#: accumulation is associative, so the 64-term reductions are
#: partition-order independent and bit-identical across engines.
_PI_SCALE = 1_000_000_000_000  # 1e12


def _eigvec_parts() -> list[str]:
    """The shared power-iteration CTE chain (covariance construction +
    _PI_ITERS unrolled rounds), ending at ``v{_PI_ITERS}`` (pos, val)
    and ``n{_PI_ITERS-1}`` (nrm). Every CTE is MATERIALIZED — DuckDB
    inlines plain CTEs at each reference and an unrolled iteration
    chain explodes 3^n otherwise (the CC-oracle lesson). Shared by
    q_emb_top_eigvec and q_emb_remove_top_pc so the two oracles can
    never iterate on different vectors."""
    parts = [
        f"""ex AS MATERIALIZED (
      SELECT vec_id,
             CAST(UNNEST(range(0, len(e))) AS INT) AS pos,
             UNNEST(e) AS x
      FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)),
    s AS MATERIALIZED (
      SELECT pos,
             SUM(CAST(FLOOR(x * {_COV_SCALE} + 0.5) AS BIGINT)) AS sx,
             COUNT(*) AS n
      FROM ex GROUP BY pos),
    p AS MATERIALIZED (
      SELECT a.pos AS i, b.pos AS j,
             SUM(CAST(FLOOR(a.x * b.x * {_COV_SCALE} + 0.5) AS BIGINT)) AS sxy
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id
      GROUP BY a.pos, b.pos),
    cov AS MATERIALIZED (
      SELECT p.i, p.j,
             (round((CAST(p.sxy AS DOUBLE) / {_COV_SCALE}) / si.n
                   - (CAST(si.sx AS DOUBLE) / {_COV_SCALE} / si.n)
                     * (CAST(sj.sx AS DOUBLE) / {_COV_SCALE} / sj.n),
                   6) + 0.0) AS c
      FROM p JOIN s si ON si.pos = p.i JOIN s sj ON sj.pos = p.j),
    d AS MATERIALIZED (SELECT COUNT(*) AS d FROM s),
    v0 AS MATERIALIZED (
      SELECT pos, 1.0 / sqrt(d.d) AS val FROM s CROSS JOIN d)"""
    ]
    parts.extend(_pi_chain_parts("cov", "v", "w", "n"))
    return parts


def _pi_chain_parts(mat: str, vp: str, wp: str, np_: str) -> list[str]:
    """_PI_ITERS unrolled power-iteration round CTEs over matrix CTE
    ``mat`` starting from vector CTE ``{vp}0`` — CTE-name prefixes
    parameterized so q_emb_pca2 can run a second chain (u/x/m over the
    deflated matrix) without colliding with the first (v/w/n over cov).
    The SQL body is byte-identical per round to the q_emb_top_eigvec
    chain — one generator, two instantiations."""
    parts = []
    for k in range(_PI_ITERS):
        parts.append(
            f"""{wp}{k} AS MATERIALIZED (
      SELECT {mat}.i AS pos,
             CAST(SUM(CAST(FLOOR({mat}.c * v.val * {_PI_SCALE} + 0.5)
                           AS BIGINT)) AS DOUBLE) / {_PI_SCALE} AS w
      FROM {mat} JOIN {vp}{k} v ON v.pos = {mat}.j
      GROUP BY {mat}.i),
    {np_}{k} AS MATERIALIZED (
      SELECT sqrt(CAST(SUM(CAST(FLOOR(w * w * {_PI_SCALE} + 0.5)
                               AS BIGINT)) AS DOUBLE) / {_PI_SCALE}) AS nrm
      FROM {wp}{k}),
    {vp}{k + 1} AS MATERIALIZED (
      SELECT pos,
             CAST(FLOOR(w / nrm * {_COV_SCALE} + 0.5) AS DOUBLE)
               / {_COV_SCALE} AS val
      FROM {wp}{k} CROSS JOIN {np_}{k})"""
        )
    return parts


def _eigvec_oracle() -> str:
    """DuckDB oracle for q_emb_top_eigvec: the shared chain + the
    (pos, eigvec_val, eigenvalue) readout."""
    return (
        "WITH "
        + ",\n    ".join(_eigvec_parts())
        + f"""
    SELECT v.pos, v.val AS eigvec_val, round(n.nrm, 6) AS eigenvalue
    FROM v{_PI_ITERS} v CROSS JOIN n{_PI_ITERS - 1} n
    """
    )


def _remove_pc_oracle() -> str:
    """DuckDB oracle for q_emb_remove_top_pc: the shared power-iteration
    chain, then per-vector projection onto v{_PI_ITERS} and the residual
    norms — every multi-term reduction per-term int64-quantized exactly
    as the Spark side, so proj (and hence each residual component) is
    the identical double on both engines before any rounding."""
    parts = _eigvec_parts() + [
        f"""proj AS MATERIALIZED (
      SELECT ex.vec_id,
             CAST(SUM(CAST(FLOOR(ex.x * v.val * {_PI_SCALE} + 0.5)
                           AS BIGINT)) AS DOUBLE) / {_PI_SCALE} AS proj
      FROM ex JOIN v{_PI_ITERS} v ON v.pos = ex.pos
      GROUP BY ex.vec_id),
    resid AS MATERIALIZED (
      SELECT ex.vec_id, ex.x, ex.x - pr.proj * v.val AS rx
      FROM ex
      JOIN v{_PI_ITERS} v ON v.pos = ex.pos
      JOIN proj pr ON pr.vec_id = ex.vec_id),
    ragg AS MATERIALIZED (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(FLOOR(x * x * {_WHITEN_SQ} + 0.5)
                                AS BIGINT)) AS DOUBLE) / {_WHITEN_SQ}) AS nb,
             sqrt(CAST(SUM(CAST(FLOOR(rx * rx * {_WHITEN_SQ} + 0.5)
                                AS BIGINT)) AS DOUBLE) / {_WHITEN_SQ}) AS na
      FROM resid GROUP BY vec_id)"""
    ]
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT r.vec_id,
           (round(p.proj, 6) + 0.0) AS pc1_proj,
           round(r.nb, 6) AS norm_before,
           round(r.na, 6) AS norm_after
    FROM ragg r JOIN proj p ON p.vec_id = r.vec_id
    WHERE r.na > 0
    """
    )


@register("q_emb_top_eigvec", oracle=_eigvec_oracle())
def q_emb_top_eigvec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus embedding's TOP PRINCIPAL DIRECTION by power
    iteration on the covariance matrix — the one-vector PCA every
    embedding-health check starts from (the dominant-direction share
    of variance is THE anisotropy number; subtracting this direction
    is the classic all-but-the-top post-processing). Fourth iterative
    exemplar after connected components, k-means, and PageRank.

    The covariance is q_emb_covariance's cells collected as the full
    matrix (``_build_cov``); ``_power_iteration`` runs the _PI_ITERS
    rounds on the driver, O(d²) each at ANY corpus size — corpus size
    only enters the one-pass Gram build. Cross-engine determinism uses
    the PageRank discipline: every multi-term
    float reduction (the matvec and the norm) quantizes per-term to
    int64 (FLOOR(x·10¹² + 0.5)) so partition order can't move a bit,
    and the normalized vector re-quantizes to 10⁻⁹ at each iteration
    boundary — both engines therefore iterate on IDENTICAL vectors,
    and the final hash compares exact doubles, not approximations.
    Sign convention: v₀ = 1/√d (all-positive) fixes the eigenvector's
    sign deterministically. Output: (pos, eigvec_val, eigenvalue≈‖Cv‖
    at the last round, the Rayleigh estimate for a unit v)."""
    (v,), (nrm,) = _power_iteration(_build_cov(spark, sf_dir), 1)
    out = spark.createDataFrame(
        [(int(p), float(v[p]), float(nrm)) for p in range(len(v))],
        "pos int, eigvec_val double, nrm double",
    )
    return out.select(
        "pos", "eigvec_val", F.round("nrm", 6).alias("eigenvalue")
    )


def _build_cov(spark: SparkSession, sf_dir: str):
    """q_emb_covariance's cells collected to the driver as the dense
    symmetric d×d numpy float64 matrix. The transfer is d(d+1)/2 rows
    (2,080 at d=64), never corpus-sized, and every entry is the value
    Spark computed and rounded, so it equals the oracle's ``cov`` CTE
    bit for bit."""
    import numpy as np

    rows = q_emb_covariance(spark, sf_dir).select("i", "j", "cov").collect()
    if not rows:
        raise ValueError("covariance build: empty embeddings corpus")
    d = max(r["i"] for r in rows) + 1
    C = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        C[r["i"], r["j"]] = r["cov"]
        C[r["j"], r["i"]] = r["cov"]
    return C


def _qsum_np(x, scale: int, axis=None):
    """Σ floor(x·scale + 0.5) as an exact int64 sum, divided by scale.
    Integer terms make the sum independent of summation order, which is
    how numpy here, Spark's folds and DuckDB's SUM agree bit for bit;
    ``x`` holds the already-multiplied operands (the IEEE product chain
    the oracles evaluate, left to right)."""
    import numpy as np

    return (
        np.floor(x * scale + 0.5).astype(np.int64).sum(axis=axis).astype(np.float64)
        / scale
    )


def _power_iteration(C, k: int):
    """Block power iteration on the driver over a dense d×d numpy
    matrix: ``k`` columns iterate jointly for ``_PI_ITERS`` rounds
    (read at call time, so the mutation pin binds). Returns ``(cols,
    norms)``: the k unit eigvec arrays in pos order and each column's
    norm in the last round (λ estimates; norms[0] is λ₁).

    Each round, per column c in ascending order: w = C·v_c with
    per-term quantization (``_qsum_np`` at 10¹²); Gram-Schmidt against
    the columns already finished this round (quantized dot, one IEEE
    multiply-subtract per component); norm = sqrt(Σ w² quantized);
    v_c = floor(w/norm·10⁹ + 0.5)/10⁹. The generated oracles mirror
    this CTE for CTE, so both engines iterate on identical vectors.
    Column 0 never has a projection subtracted, so k=1 is the plain
    power iteration and column 0 of any block equals it bit for bit.
    Start block: v₀ = 1/√d, then pos ≡ c (mod k) indicators. A column
    whose norm collapses to 0 raises instead of propagating NaN. Cost:
    k·_PI_ITERS d² matvecs on the driver, no Spark job."""
    import numpy as np

    d = C.shape[0]
    cols = [np.full(d, 1.0 / math.sqrt(d), dtype=np.float64)]
    cols += [(np.arange(d) % k == c).astype(np.float64) for c in range(1, k)]
    norms = [None] * k
    for _ in range(_PI_ITERS):
        done = []
        for c in range(k):
            w = _qsum_np(C * cols[c][None, :], _PI_SCALE, axis=1)
            for vb in done:
                w = w - _qsum_np(w * vb, _PI_SCALE) * vb
            norms[c] = math.sqrt(_qsum_np(w * w, _PI_SCALE))
            if not norms[c] > 0.0:
                raise ValueError(
                    f"power iteration column {c} collapsed (norm 0) — "
                    "block columns are no longer independent"
                )
            done.append(np.floor(w / norms[c] * _COV_SCALE + 0.5) / _COV_SCALE)
        cols = done
    return cols, norms


def _pca_project_rows(spark: SparkSession, sf_dir: str, cols) -> DataFrame:
    """Per-vector quantized projections onto ``cols`` (driver-side numpy
    eigvec arrays) as ``(vec_id, pc1..pck)``, in ONE Arrow-batched
    corpus pass. Each projection is ``_qsum_np`` of the x·v terms at
    10¹², the oracle's per-term int64 sum, so batching cannot move a
    bit. numpy on whole batches replaces interpreted higher-order
    lambdas (~5 µs per element). The eigvecs ship in the UDF closure
    (a constant index artifact); callers round with rz in Spark."""
    import numpy as np

    V = [np.asarray(c, dtype=np.float64) for c in cols]
    k = len(V)

    def leg(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = np.asarray(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            out = {"vec_id": pdf["vec_id"]}
            for c in range(k):
                out[f"pc{c + 1}"] = _qsum_np(E * V[c][None, :], _PI_SCALE, axis=1)
            yield pd.DataFrame(out)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    schema = "vec_id bigint, " + ", ".join(
        f"pc{c + 1} double" for c in range(k)
    )
    return emb.mapInPandas(leg, schema=schema)


# --------------------------------------------------------------------------
# Hard-negative mining: the training-data op that turns a corpus
# + labels into contrastive-learning negatives — for each probe, the
# top-k most-similar vectors with a DIFFERENT label (similar enough to
# confuse the model, labeled differently: the standard retrieval/
# embedding-finetune mining step, e.g. DPR/Contriever pipelines).
# --------------------------------------------------------------------------


@register(
    "q_sim_hard_negatives",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    p AS (SELECT * FROM v WHERE {_PROBE_FILTER}),
    scored AS (
      SELECT p.vec_id AS probe_id, p.label AS probe_label,
             v.vec_id AS negative_id, v.label AS negative_label,
             list_cosine_similarity(p.e, v.e) AS cos_raw,
             row_number() OVER (PARTITION BY p.vec_id
                                ORDER BY list_cosine_similarity(p.e, v.e) DESC,
                                         v.vec_id ASC) AS rank_pos
      FROM p JOIN v ON v.vec_id <> p.vec_id AND v.label <> p.label)
    SELECT probe_id, probe_label, negative_id, negative_label,
           (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_K}
    """,
)
def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe top-k hard negatives: nearest-by-cosine vectors whose
    label differs from the probe's. Same brute-exact shape as
    q_sim_topk (broadcast probes, one corpus pass, per-probe window)
    with the label-mismatch predicate riding the join — evaluated
    BEFORE scoring, so disqualified (same-label) rows never pay the
    dot product. At corpus scale the candidate generation swaps to the
    IVF/LSH paths exactly as for q_sim_topk (the mining step only
    changes the join predicate); rank_pos ties break on negative_id on
    both engines."""
    v = _vecs(spark, sf_dir)
    p = _probes(v, F.col("label").alias("probe_label"))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("negative_id").asc()
    )
    return (
        F.broadcast(p)
        .join(
            v,
            (F.col("vec_id") != F.col("probe_id"))
            & (F.col("label") != F.col("probe_label")),
        )
        .select(
            "probe_id",
            "probe_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            _cosine_pre("pe", "e", "pn", "nrm").alias("cos_raw"),
        )
        .withColumn("rank_pos", F.row_number().over(w))
        .where(F.col("rank_pos") <= _K)
        .select(
            "probe_id",
            "probe_label",
            "negative_id",
            "negative_label",
            rz("cos_raw", 4).alias("cosine"),
            "rank_pos",
        )
    )


# --------------------------------------------------------------------------
# MMR diversified retrieval: Maximal Marginal Relevance
# (Carbonell & Goldstein 1998) — the standard diversification re-rank:
# greedily pick the candidate maximizing λ·rel(p,c) − (1−λ)·max
# similarity to the already-selected set. Deployed wherever raw top-k
# returns near-duplicates (RAG context assembly, dedup-aware search).
# --------------------------------------------------------------------------

_MMR_POOL = 10  # candidate pool: exact top-10 per probe
_MMR_K = 3      # greedy selections, unrolled
_MMR_LAMBDA = 0.5


@register(
    "q_sim_mmr",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    p AS (SELECT * FROM v WHERE {_PROBE_FILTER}),
    cand AS (
      SELECT p.vec_id AS probe_id, v.vec_id AS cid, v.e AS ce,
             list_cosine_similarity(p.e, v.e) AS cos_pc,
             row_number() OVER (PARTITION BY p.vec_id
                                ORDER BY list_cosine_similarity(p.e, v.e) DESC,
                                         v.vec_id ASC) AS rk
      FROM p JOIN v ON v.vec_id <> p.vec_id),
    pool AS (SELECT * FROM cand WHERE rk <= {_MMR_POOL}),
    s1 AS (SELECT probe_id, cid, ce, cos_pc FROM pool WHERE rk = 1),
    sc2 AS (
      SELECT c.probe_id, c.cid, c.ce, c.cos_pc,
             {_MMR_LAMBDA} * c.cos_pc
               - {1 - _MMR_LAMBDA} * list_cosine_similarity(c.ce, s1.ce) AS sc
      FROM pool c JOIN s1 ON c.probe_id = s1.probe_id
      WHERE c.cid <> s1.cid),
    s2 AS (SELECT probe_id, cid, ce, cos_pc FROM (
             SELECT *, row_number() OVER (PARTITION BY probe_id
                        ORDER BY sc DESC, cid ASC) AS r FROM sc2)
           WHERE r = 1),
    sc3 AS (
      SELECT c.probe_id, c.cid, c.cos_pc,
             {_MMR_LAMBDA} * c.cos_pc
               - {1 - _MMR_LAMBDA} * GREATEST(
                   list_cosine_similarity(c.ce, s1.ce),
                   list_cosine_similarity(c.ce, s2.ce)) AS sc
      FROM pool c
      JOIN s1 ON c.probe_id = s1.probe_id
      JOIN s2 ON c.probe_id = s2.probe_id
      WHERE c.cid <> s1.cid AND c.cid <> s2.cid),
    s3 AS (SELECT probe_id, cid, cos_pc FROM (
             SELECT *, row_number() OVER (PARTITION BY probe_id
                        ORDER BY sc DESC, cid ASC) AS r FROM sc3)
           WHERE r = 1)
    SELECT probe_id, cid AS selected_id, CAST(1 AS INT) AS mmr_rank,
           (round(cos_pc, 4) + 0.0) AS relevance FROM s1
    UNION ALL
    SELECT probe_id, cid, CAST(2 AS INT), (round(cos_pc, 4) + 0.0) FROM s2
    UNION ALL
    SELECT probe_id, cid, CAST(3 AS INT), (round(cos_pc, 4) + 0.0) FROM s3
    """,
)
def q_sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR top-{_MMR_K} per probe over an exact top-{_MMR_POOL} pool:
    selection 1 is the plain best; selections 2..k maximize
    λ·cos(p,c) − (1−λ)·max cos(c, selected). The greedy loop is
    UNROLLED (k is a small constant — the production pattern for
    context assembly), so the whole op is joins + windows, no
    iteration state. Determinism: every argmax breaks ties on cid on
    both engines; both engines compute the same sequential-fold dot
    products (the q_sim_topk precedent) and the same λ-arithmetic, so
    raw-score comparisons agree; output relevance rounds to 4dp.

    Scale shape (100 TB): the pool build is the exact brute-force
    top-k — at corpus scale swap it for the IVF/LSH candidate stage
    (exactly as q_sim_topk → q_sim_ivf); everything AFTER the pool is
    O(probes · pool²) — corpus-size-INDEPENDENT re-ranking (100 rows
    per probe here), joined per probe-key with the 32-row probe side
    broadcast throughout, no corpus-sized shuffle after the pool."""
    lam = _MMR_LAMBDA
    v = _vecs(spark, sf_dir)
    wrk = Window.partitionBy("probe_id").orderBy(
        F.col("cos_pc").desc(), F.col("cid").asc()
    )
    pool = ckpt(
        F.broadcast(_probes(v))
        .join(v, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cid"),
            F.col("e").alias("ce"),
            F.col("nrm").alias("cn"),
            _cosine_pre("pe", "e", "pn", "nrm").alias("cos_pc"),
        )
        .withColumn("rk", F.row_number().over(wrk))
        .where(F.col("rk") <= _MMR_POOL),
        # the pool feeds three selection joins; the checkpoint keeps
        # the corpus-sized top-k build from re-executing per branch
        # (probes·pool rows — 320 here, bounded by the probe cap).
        eager=True,
    )
    s1 = pool.where(F.col("rk") == 1).select(
        "probe_id",
        F.col("cid").alias("s1_cid"),
        F.col("ce").alias("s1_e"),
        F.col("cn").alias("s1_n"),
        F.col("cos_pc").alias("s1_cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sc").desc(), F.col("cid").asc()
    )
    sc2 = (
        pool.join(F.broadcast(s1), "probe_id")
        .where(F.col("cid") != F.col("s1_cid"))
        .withColumn(
            "sc",
            F.lit(lam) * F.col("cos_pc")
            - F.lit(1 - lam) * _cosine_pre("ce", "s1_e", "cn", "s1_n"),
        )
    )
    s2 = (
        sc2.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select(
            "probe_id",
            F.col("cid").alias("s2_cid"),
            F.col("ce").alias("s2_e"),
            F.col("cn").alias("s2_n"),
            F.col("cos_pc").alias("s2_cos"),
        )
    )
    sc3 = (
        pool.join(F.broadcast(s1), "probe_id")
        .join(F.broadcast(s2), "probe_id")
        .where((F.col("cid") != F.col("s1_cid")) & (F.col("cid") != F.col("s2_cid")))
        .withColumn(
            "sc",
            F.lit(lam) * F.col("cos_pc")
            - F.lit(1 - lam)
            * F.greatest(
                _cosine_pre("ce", "s1_e", "cn", "s1_n"),
                _cosine_pre("ce", "s2_e", "cn", "s2_n"),
            ),
        )
    )
    s3 = (
        sc3.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("probe_id", F.col("cid").alias("s3_cid"), F.col("cos_pc").alias("s3_cos"))
    )
    out = lambda df, cidc, cosc, rank: df.select(  # noqa: E731
        "probe_id",
        F.col(cidc).alias("selected_id"),
        F.lit(rank).cast("int").alias("mmr_rank"),
        rz(cosc, 4).alias("relevance"),
    )
    return (
        out(s1, "s1_cid", "s1_cos", 1)
        .unionByName(out(s2, "s2_cid", "s2_cos", 2))
        .unionByName(out(s3, "s3_cid", "s3_cos", 3))
    )


# --------------------------------------------------------------------------
# q_emb_whitening — mean-centering + renormalization: the
# standard anisotropy mitigation ("all-but-the-mean") applied
# corpus-wide, verified per vector.
# --------------------------------------------------------------------------

_WHITEN_SCALE = 1_000_000  # the engine's 6-decimal mean quantization
_WHITEN_SQ = 1_000_000_000_000  # 1e12 per-term quantization for norms


def _mu_row(vec_df: DataFrame) -> DataFrame:
    """ONE-row corpus-mean array over a frame with an ``e`` double-array
    column: posexplode → groupBy(pos) scaled-int aggregate (partial
    aggregation collapses the exploded fact to ~d rows PER TASK before
    the exchange) → array_sort(collect_list) into a single d-element
    array row. d-bounded and driver-free — callers ``F.broadcast`` it
    back onto the corpus, the same constant-pull discipline as the PQ
    codebook. The mean is an exact integer ratio (Σ round(x·10⁶) is an
    exact int64 sum), so both engines see the identical double. Shared
    by q_emb_whitening and q_sim_topk_whitened so the transform and the
    retrieval that composes over it can never drift apart."""
    m = (
        vec_df.select(F.posexplode("e").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            (
                F.sum(
                    F.floor(F.col("x") * _WHITEN_SCALE + F.lit(0.5)).cast(
                        "bigint"
                    )
                ).cast("double")
                / (F.lit(float(_WHITEN_SCALE)) * F.count(F.lit(1)))
            ).alias("mu")
        )
    )
    return m.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mu))), s -> s.mu)"
        ).alias("mu_arr")
    )


@register(
    "q_emb_whitening",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    ex AS (SELECT vec_id,
                  CAST(UNNEST(range(0, len(e))) AS INT) AS pos,
                  UNNEST(e) AS x
           FROM v),
    m AS (SELECT pos,
                 CAST(SUM(CAST(FLOOR(x * {_WHITEN_SCALE} + 0.5) AS BIGINT))
                      AS DOUBLE) / ({_WHITEN_SCALE} * COUNT(*)) AS mu
          FROM ex GROUP BY pos),
    c AS (SELECT ex.vec_id, ex.pos, ex.x, ex.x - m.mu AS cx
          FROM ex JOIN m ON m.pos = ex.pos),
    agg AS (SELECT vec_id,
                   sqrt(CAST(SUM(CAST(FLOOR(x * x * {_WHITEN_SQ} + 0.5)
                                      AS BIGINT)) AS DOUBLE)
                        / {_WHITEN_SQ}) AS nb,
                   sqrt(CAST(SUM(CAST(FLOOR(cx * cx * {_WHITEN_SQ} + 0.5)
                                      AS BIGINT)) AS DOUBLE)
                        / {_WHITEN_SQ}) AS na,
                   CAST(SUM(CAST(FLOOR(cx * 1e9 + 0.5) AS BIGINT))
                        AS DOUBLE) / 1e9 AS scx,
                   MAX(CASE WHEN pos = 0 THEN cx END) AS cx0
            FROM c GROUP BY vec_id)
    SELECT vec_id,
           round(nb, 6) AS norm_before,
           round(na, 6) AS norm_after,
           (round(scx, 6) + 0.0) AS comp_sum_centered,
           (round(cx0 / na, 4) + 0.0) AS w0
    FROM agg WHERE na > 0
    """,
)
def q_emb_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mean-centering + renormalization — the production
    anisotropy mitigation (the mean direction dominates cosine
    similarity in degraded embedding spaces; subtracting it —
    "all-but-the-mean", the first step of all-but-the-top — restores
    contrast). Output pins the transform per vector: the norm before
    and after centering, the centered component sum (≈0 corpus-wide —
    the monitoring number), and the first whitened component.

    Scale shape (100 TB): ONE pass over the corpus per side of the
    plan, zero vec_id shuffle. The mean is the q_emb_centroid
    construction made global — posexplode → groupBy(pos) scaled-int
    aggregate, where partial aggregation collapses the exploded fact
    to ~d rows PER TASK before the exchange (the shuffle carries
    tasks·d tiny rows, not the corpus). The d means then come back as
    ONE broadcast array row (array_sort over a d-row collect_list —
    driver-bounded at d, the same constant-pull discipline as the PQ
    codebook), and every per-vector statistic — norm before/after,
    centered component sum, first component — computes INSIDE the
    vector's own row with higher-order functions (zip_with/aggregate,
    the engine's cosine idiom), so no row ever leaves its input
    partition and no repartition round-trip exists (plan pinned in
    tests/test_plans.py).
    Determinism: the mean is an exact integer ratio (identical double
    both engines); centered values are then single identical IEEE
    subtractions; every cross-term sum quantizes per-term to int64
    (norms at 10⁻¹², component sums at 10⁻⁹) and int64 addition is
    associative, so neither partition order (mean pass) nor fold
    order (array pass) can move a bit; rounded outputs that can be
    tiny negatives (comp_sum_centered, w0) go through rz()."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("e"),
    )
    mu_row = _mu_row(emb)

    def _qsum(arr: Column, term, scale: int) -> Column:
        """Σ floor(term(x)·scale + 0.5) over an array, int64-exact."""
        return (
            F.aggregate(
                arr,
                F.lit(0).cast("bigint"),
                lambda acc, x: acc
                + F.floor(term(x) * scale + F.lit(0.5)).cast("bigint"),
            ).cast("double")
            / F.lit(float(scale))
        )

    sq = lambda x: x * x  # noqa: E731
    agg = (
        emb.crossJoin(F.broadcast(mu_row))
        .withColumn("cx", F.zip_with("e", "mu_arr", lambda x, mu: x - mu))
        .select(
            "vec_id",
            F.sqrt(_qsum(F.col("e"), sq, _WHITEN_SQ)).alias("nb"),
            F.sqrt(_qsum(F.col("cx"), sq, _WHITEN_SQ)).alias("na"),
            _qsum(F.col("cx"), lambda x: x, 1_000_000_000).alias("scx"),
            F.element_at("cx", 1).alias("cx0"),
        )
    )
    return agg.where(F.col("na") > 0).select(
        "vec_id",
        F.round("nb", 6).alias("norm_before"),
        F.round("na", 6).alias("norm_after"),
        rz("scx", 6).alias("comp_sum_centered"),
        rz(F.col("cx0") / F.col("na"), 4).alias("w0"),
    )


@register(
    "q_sim_topk_whitened",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    ex AS (SELECT vec_id,
                  CAST(UNNEST(range(0, len(e))) AS INT) AS pos,
                  UNNEST(e) AS x
           FROM v),
    m AS (SELECT pos,
                 CAST(SUM(CAST(FLOOR(x * {_WHITEN_SCALE} + 0.5) AS BIGINT))
                      AS DOUBLE) / ({_WHITEN_SCALE} * COUNT(*)) AS mu
          FROM ex GROUP BY pos),
    cw AS (SELECT ex.vec_id, list(ex.x - m.mu ORDER BY ex.pos) AS e
           FROM ex JOIN m ON m.pos = ex.pos
           GROUP BY ex.vec_id),
    w AS (SELECT vec_id, e FROM cw
          WHERE list_aggregate(list_transform(e, x -> x * x), 'sum') > 0),
    p AS (SELECT * FROM w WHERE {_PROBE_FILTER}),
    scored AS (
      SELECT p.vec_id AS probe_id, w.vec_id AS neighbor_id,
             list_cosine_similarity(p.e, w.e) AS cos_raw,
             row_number() OVER (PARTITION BY p.vec_id
                                ORDER BY list_cosine_similarity(p.e, w.e) DESC,
                                         w.vec_id ASC) AS rank_pos
      FROM p JOIN w ON w.vec_id <> p.vec_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_K}
    """,
)
def q_sim_topk_whitened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine retrieval IN THE WHITENED SPACE — the composition
    q_emb_whitening exists for in production: mean-center the corpus
    ("all-but-the-mean"), then rank neighbors by cosine over the
    centered vectors, so the shared mean direction stops dominating
    every similarity. Same probe set, k, tie-break, and output shape
    as q_sim_topk, so the two ops are directly comparable — a pytest
    cross-check (tests/test_operators.py) asserts the whitened ranking
    genuinely differs from the raw one on the testdata, guarding
    against a silently no-op transform.

    Scale shape (100 TB): the mean is the shared ``_mu_row`` constant
    (posexplode → d-row partial-agg exchange → ONE broadcast array
    row); centering + the whitened norm compute INSIDE each vector's
    row (zip_with/aggregate — no vec_id shuffle, no repartition); the
    probe side is filter → broadcast exactly as q_sim_topk, so the
    corpus is scanned once per side and never re-keyed. Mean
    population = the retrieval corpus (zero-RAW-norm vectors excluded,
    mirroring _V_SQL); vectors whose WHITENED norm is exactly zero
    (all-components equal to the mean — sum of squares is zero
    regardless of fold order, so both engines agree bit-for-bit) drop
    from both sides, the q_sim_topk zero-norm discipline transplanted.
    Determinism: centered components are single identical IEEE
    subtractions of the exact-integer-ratio mean, and ranking
    tolerances are q_sim_topk's (last-ulp norm differences sit ~9
    orders below the ~1e-3 gaps that decide ranks at 4dp rounding)."""
    v = _vecs(spark, sf_dir)
    # the whitened frame feeds both join sides with different
    # projections, so without the checkpoint each side would re-run the
    # corpus-wide mean; centering itself stays recomputed per side
    mu = ckpt(_mu_row(v))
    wv = (
        v.crossJoin(F.broadcast(mu))
        .withColumn("we", F.zip_with("e", "mu_arr", lambda x, mu: x - mu))
        .withColumn(
            "wn",
            F.sqrt(
                F.aggregate(F.col("we"), F.lit(0.0), lambda acc, x: acc + x * x)
            ),
        )
        .where(F.col("wn") > 0.0)
        .select("vec_id", "we", "wn")
    )
    p = _probes(wv, e="we", nrm="wn")
    return _top_k(_scan(p, wv, _cosine_pre("pe", "we", "pn", "wn")), _K)


# --------------------------------------------------------------------------
# q_sim_ivf_pq: IVF cells × PQ codes — the composed FAISS-IVFPQ
# layout, THE production memory/latency point for 10B+-vector ANN
# (coarse cells bound the scan, 8-byte codes bound the resident index).
# --------------------------------------------------------------------------


#: shared by q_sim_ivf_pq and q_sim_ivf_pq_persisted — the persisted
#: variant is value-identical by construction (same centroids, same
#: codebooks, same deterministic argmins; only a parquet round-trip of
#: the three index artifacts in between), which sharing one oracle pins.
_IVF_PQ_ORACLE = f"""
    WITH v AS ({_V_SQL}),
    c AS ({_C_SQL}),
    {_PQ_SUBS_SQL},
    assign AS ({_ASSIGN_CTE}),
    p AS (SELECT vec_id AS probe_id, e AS pe,
                 sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum'))
                   AS pn
          FROM v WHERE {_PROBE_FILTER}),
    scored AS (
      SELECT p.probe_id, m.vec_id AS neighbor_id,
             list_dot_product(p.pe, n.d) / (p.pn * n.nrm) AS cos_raw,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_dot_product(p.pe, n.d)
                                         / (p.pn * n.nrm) DESC,
                                         m.vec_id ASC) AS rank_pos
      FROM p
      JOIN assign pa ON pa.vec_id = p.probe_id
      JOIN assign m  ON m.cid = pa.cid AND m.vec_id <> p.probe_id
      JOIN n         ON n.vec_id = m.vec_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_IVF_K}
    """


@register("q_sim_ivf_pq", oracle=_IVF_PQ_ORACLE)
def q_sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed — the FAISS-IVFPQ production layout: corpus
    vectors coarse-quantize to their nearest of the fixed
    ``_IVF_MAX_CENTROIDS`` cells (full-precision assignment at index
    build, exactly ``_ivf_assign``), and WITHIN the probed cell the
    ranking is asymmetric-PQ (full-precision probe against the
    PQ-decoded member reconstruction, exactly ``_pq_index``). Both
    halves already exist as verified singles (q_sim_ivf, q_sim_pq);
    this op proves the composition — the point of IVFPQ is that the
    two bounds MULTIPLY: the cell bounds the candidate scan to n/K
    vectors and PQ bounds their resident bytes to 8/vector, so a
    10B-vector index fits a cluster's memory AND each probe touches
    1/K of it. At 100 TB both index halves build once and persist
    (q_sim_ivf_persisted shows the read-back path); per query batch
    the plan is: broadcast K centroids (probe→cell), broadcast the
    64-row codebook, one equi-join on cell id, per-probe top-k window.
    Recall on this synthetic i.i.d. corpus compounds the two halves'
    documented floors (IVF cell miss × PQ noise-floor ~0.26@5); the
    production levers (trained codebooks, nprobe>1, exact re-rank of
    the PQ top-R — q_sim_pq_rerank) change recall, not plan shape.
    Determinism: argmin/ranking tie-break on cid / code_id / vec_id
    everywhere; cosines round to 4dp through rz()."""
    v = _vecs(spark, sf_dir)
    c = _centroids(v)
    return _ivf_top_k(_probes(v), c, _ivf_assign(v, c), _pq_index(v), "d")


@register("q_sim_ivf_pq_persisted", oracle=_IVF_PQ_ORACLE)
def q_sim_ivf_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_sim_ivf_pq's index build split out and PERSISTED, the
    deployment shape: at 10B vectors the build must be a one-time
    artifact, never per-query work (SCALE.md measured the in-plan
    ⌈√n⌉-K build at ~45 min for 2M vectors). The build writes three
    IVFPQ artifacts to parquet:

    - ``assign/``   — the coarse inverted index (vec_id, cid), written
      partitionBy(cid) so each probe's cell join prunes the read to
      one cell's files (plan-pinned);
    - ``codebook/`` — the _PQ_M·_PQ_K = 256-row subspace codebook
      (code_id, m, cw), a constant-size table broadcast at decode;
    - ``codes/``    — (vec_id, m, code_id): the ONLY corpus-sized
      artifact, 16 four-bit ids = 8 bytes/vector bit-packed — the 32×
      memory cut that lets a 10B-vector index stay cluster-resident.

    The search leg reads all three back and runs q_sim_ivf_pq's query
    plan against storage (decode = codes ⋈ broadcast codebook, then
    ``_ivf_top_k``), so any query batch
    thereafter pays only the O(batch·n/K) probe, never the O(n·K)
    assignment or the O(n·M·K) encoding. Values are identical to
    q_sim_ivf_pq by construction (same centroids, same codebooks, same
    deterministic argmins), which the shared oracle pins — a
    round-trip that corrupted one code would hash-red."""
    path = _ivfpq_index_build(spark, sf_dir)
    return _ivfpq_query_leg(spark, sf_dir, path)


def _ivfpq_index_build(spark: SparkSession, sf_dir: str) -> str:
    """The IVFPQ index BUILD leg (amortized at deployment; bench.py
    times it separately): coarse-assign + PQ-encode the corpus once and
    write the three artifacts, assign/ by ``_write_cells``. Returns the
    per-call ``_ivf_index_path``."""
    v = _vecs(spark, sf_dir)
    path = _ivf_index_path(sf_dir)
    _write_cells(_ivf_assign(v, _centroids(v)), f"{path}/assign")
    sub_cb, codes = _pq_parts(v)
    sub_cb.write.mode("overwrite").parquet(f"{path}/codebook")
    codes.write.mode("overwrite").parquet(f"{path}/codes")
    return path


def _ivfpq_query_leg(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """The IVFPQ QUERY leg against ``_ivfpq_index_build``'s artifacts:
    ``_ivf_top_k`` over the read-back assignment and the decoded
    codes."""
    v = _vecs(spark, sf_dir)
    assign = _read_cells(spark, f"{path}/assign", _ASSIGN_COLS)
    npq = _pq_decode(
        read_written(spark, f"{path}/codes", _CODES_COLS),
        read_written(spark, f"{path}/codebook", _CODEBOOK_COLS),
    )
    return _ivf_top_k(_probes(v), _centroids(v), assign, npq, "d")


@register(
    "q_sim_ivf_pq_multiprobe",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    c AS ({_C_SQL}),
    {_PQ_SUBS_SQL},
    ranked AS (
      SELECT v.vec_id, c.cid,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY {_qd_sql("v.e", "c.ce")} / c.cn
                                           DESC,
                                         c.cid ASC) AS rn
      FROM v CROSS JOIN c),
    assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
    pcells AS (SELECT vec_id, cid FROM ranked WHERE rn <= {_NPROBE}),
    p AS (SELECT vec_id AS probe_id, e AS pe,
                 sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum'))
                   AS pn
          FROM v WHERE {_PROBE_FILTER}),
    scored AS (
      SELECT p.probe_id, m.vec_id AS neighbor_id,
             list_dot_product(p.pe, n.d) / (p.pn * n.nrm) AS cos_raw,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_dot_product(p.pe, n.d)
                                         / (p.pn * n.nrm) DESC,
                                         m.vec_id ASC) AS rank_pos
      FROM p
      JOIN pcells pa ON pa.vec_id = p.probe_id
      JOIN assign m  ON m.cid = pa.cid AND m.vec_id <> p.probe_id
      JOIN n         ON n.vec_id = m.vec_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_IVF_K}
    """,
)
def q_sim_ivf_pq_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ with multi-probe (nprobe=``_NPROBE``) — the FAISS
    PRODUCTION default composed from two verified levers: q_sim_ivf_pq
    supplies the memory story (coarse cells bound the candidate scan,
    8-byte codes bound the resident index) and q_sim_ivf_multiprobe
    supplies the recall lever (each query scans its N nearest cells,
    recovering true neighbors that fell across a cell boundary — PQ's
    noise floor makes nprobe>1 MORE valuable than in IVF-Flat, which
    is why FAISS ships IVFPQ with nprobe tuning as the first knob).
    Plan shape is q_sim_ivf_pq's exactly — only the tiny probe→cell
    fan-out table grows N×; the corpus stays partitioned by its single
    home cell, candidate work scales linearly in nprobe, and the
    fan-out join stays duplicate-free because corpus assignment is
    unique. Determinism: the same quantized centroid affinity ranks
    probe cells and corpus assignment (one shared ``ranked`` frame in
    the oracle), and PQ scoring tie-breaks on vec_id as everywhere."""
    v = _vecs(spark, sf_dir)
    c = _centroids(v)
    assign = _ivf_assign(v, c)
    return _ivf_top_k(_probes(v), c, assign, _pq_index(v), "d", _NPROBE)


# --------------------------------------------------------------------------
# q_emb_remove_top_pc: "all-but-the-top" — remove the dominant
# principal direction from every embedding (Mu & Viswanath 2018), the
# step AFTER mean-centering (q_emb_whitening) in the standard embedding
# post-processing chain. Composes the verified power-iteration eigvec
# with the whitening ops' in-row per-vector transform discipline.
# --------------------------------------------------------------------------


@register("q_emb_remove_top_pc", oracle=_remove_pc_oracle())
def q_emb_remove_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-direction removal per vector: e′ = e − (e·v₁)v₁ with v₁
    the top eigenvector q_emb_top_eigvec reads out (``_power_iteration``
    at k=1). Output pins the transform per vector:
    the projection coefficient e·v₁ and the norm before/after removal
    (‖e′‖² = ‖e‖² − proj² up to quantization — the anisotropy energy
    the dominant direction was carrying).

    Scale shape (100 TB): the corpus is touched exactly twice — once
    by the one-pass partial-Gram build (mapInPandas partials, d²-row
    shuffle) and once by the per-vector transform, one Arrow-batched
    numpy pass with v₁ in the closure (no vec_id shuffle, no
    repartition). The iteration itself is d-bounded, corpus-free, and
    runs on the driver.

    Determinism: v₁ is bit-identical across engines (the power
    iteration quantizes every reduction per-term to int64 and
    re-quantizes the vector to 10⁻⁹ each round — q_emb_top_eigvec's
    proven discipline); proj is an exact int64 sum of
    floor(x·v·10¹²) terms, so each residual component x − proj·v is
    one identical IEEE expression on identical doubles; the norms
    quantize per-term at 10⁻¹² (the q_emb_whitening constants).
    pc1_proj can round to a tiny negative → rz()."""
    import numpy as np

    (v1,), _ = _power_iteration(_build_cov(spark, sf_dir), 1)

    # one Arrow-batched numpy pass: proj and both norms are exact int64
    # sums (_qsum_np), each residual component x − proj·v is one IEEE
    # multiply-subtract, np.sqrt is the correctly rounded IEEE sqrt;
    # rounding and the na > 0 filter stay Spark expressions.
    def _leg(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = np.asarray(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            proj = _qsum_np(E * v1[None, :], _PI_SCALE, axis=1)
            R = E - proj[:, None] * v1[None, :]
            nb = np.sqrt(_qsum_np(E * E, _WHITEN_SQ, axis=1))
            na = np.sqrt(_qsum_np(R * R, _WHITEN_SQ, axis=1))
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "proj": proj, "nb": nb, "na": na}
            )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = emb.mapInPandas(
        _leg, schema="vec_id bigint, proj double, nb double, na double"
    )
    return out.where(F.col("na") > 0).select(
        "vec_id",
        rz("proj", 6).alias("pc1_proj"),
        F.round("nb", 6).alias("norm_before"),
        F.round("na", 6).alias("norm_after"),
    )


@register("q_emb_remove_top_pc_fast")  # no oracle BY DESIGN: see docstring
def q_emb_remove_top_pc_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production projection leg of q_emb_remove_top_pc, as a
    benched twin: same v₁ from the power iteration, but the per-vector transform
    runs as one Arrow-batched mapInPandas doing plain float64 BLAS
    (E·v₁, rank-1 residual, row norms) — no per-term int64
    quantization, which exists ONLY to make the cross-engine hash
    deterministic, never for correctness. Dropping it removes the
    determinism-quantization constant from the corpus-sized leg (the
    α₁₀₀ ≈ 0.79 row's linear term; BASELINE.md has the measured delta).

    Deliberately registered WITHOUT a DuckDB oracle: unquantized
    float reductions are partition-order dependent in their last
    ulps, so no SQL mirror can hash-match — the driver records the
    rows-only check, and the value-level contract is pinned by a
    pytest tolerance cross-check against the exact twin (every field
    within 2e-6). v₁ is the driver-side numpy eigenvector and ships to
    executors in the UDF closure, as a production job would broadcast
    a constant index artifact."""
    import numpy as np

    (v1,), _ = _power_iteration(_build_cov(spark, sf_dir), 1)

    def _leg(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            proj = E @ v1
            R = E - np.outer(proj, v1)
            nb = np.sqrt((E * E).sum(axis=1))
            na = np.sqrt((R * R).sum(axis=1))
            keep = na > 0
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[keep],
                    "pc1_proj": np.round(proj[keep], 6) + 0.0,
                    "norm_before": np.round(nb[keep], 6),
                    "norm_after": np.round(na[keep], 6),
                }
            )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb.mapInPandas(
        _leg,
        schema=(
            "vec_id bigint, pc1_proj double, norm_before double, "
            "norm_after double"
        ),
    )


# --------------------------------------------------------------------------
# q_emb_pca2: two-component PCA projection via DEFLATION — the
# 2-D corpus map (cluster plots, drift dashboards, outlier triage)
# every embedding-health pipeline ends at. Composes the verified power
# iteration with a rank-1 deflation and a second, identical iteration.
# --------------------------------------------------------------------------


def _pca2_oracle() -> str:
    """DuckDB oracle for q_emb_pca2: the shared chain to v₁ (v6/n5),
    rank-1 deflation C′ = C − λ₁·v₁v₁ᵀ (single identical IEEE
    expression per cell — λ₁, v₁ components and C entries are already
    bit-identical cross-engine), a SECOND unrolled chain (u/x/m
    prefixes) from the same v₀, then both per-vector projections with
    the per-term int64 quantization."""
    parts = _eigvec_parts()
    last_n = f"n{_PI_ITERS - 1}"
    parts.append(
        f"""cov2 AS MATERIALIZED (
      SELECT cov.i, cov.j,
             cov.c - {last_n}.nrm * vi.val * vj.val AS c
      FROM cov
      JOIN v{_PI_ITERS} vi ON vi.pos = cov.i
      JOIN v{_PI_ITERS} vj ON vj.pos = cov.j
      CROSS JOIN {last_n}),
    u0 AS MATERIALIZED (SELECT pos, val FROM v0)"""
    )
    parts.extend(_pi_chain_parts("cov2", "u", "x", "m"))
    parts.append(
        f"""proj2 AS MATERIALIZED (
      SELECT ex.vec_id,
             CAST(SUM(CAST(FLOOR(ex.x * a.val * {_PI_SCALE} + 0.5)
                           AS BIGINT)) AS DOUBLE) / {_PI_SCALE} AS pc1,
             CAST(SUM(CAST(FLOOR(ex.x * b.val * {_PI_SCALE} + 0.5)
                           AS BIGINT)) AS DOUBLE) / {_PI_SCALE} AS pc2
      FROM ex
      JOIN v{_PI_ITERS} a ON a.pos = ex.pos
      JOIN u{_PI_ITERS} b ON b.pos = ex.pos
      GROUP BY ex.vec_id)"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT vec_id,
           (round(pc1, 6) + 0.0) AS pc1,
           (round(pc2, 6) + 0.0) AS pc2
    FROM proj2
    """
    )


@register("q_emb_pca2", oracle=_pca2_oracle())
def q_emb_pca2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component PCA coordinates per vector — v₁ from the verified
    power iteration, v₂ from the SAME iteration run on the rank-1
    deflated covariance C′ = C − λ₁·v₁v₁ᵀ (classic Hotelling
    deflation; C′'s dominant direction is C's second). Output
    (vec_id, pc1, pc2): the 2-D corpus map behind embedding drift
    dashboards, cluster scatter plots, and eyeball outlier triage.

    Scale shape (100 TB): the corpus is touched exactly twice — the
    one-pass partial-Gram build (shared, d²-bounded shuffle) and the
    per-vector projection (``_pca_project_rows``, one Arrow-batched
    pass — no vec_id shuffle, no repartition). The deflation and both
    iteration chains are d²-bounded driver work, corpus-free. Adding
    components grows only this d²-bounded work (deflate again), never
    the corpus passes.

    Determinism: λ₁, v₁ and every C entry are bit-identical
    cross-engine (the proven chain), so each deflated cell is ONE
    identical IEEE expression (c − λ·vᵢ·vⱼ, left-associated
    identically in both engines); chain 2 then re-quantizes per round
    exactly like chain 1 (shared generator on the oracle side, shared
    ``_power_iteration`` on the Spark side). Projections are exact int64
    sums of floor(x·v·10¹²) terms; rounded through rz() (either
    coordinate can be a tiny negative)."""
    import numpy as np

    C = _build_cov(spark, sf_dir)
    (v1,), (nrm1,) = _power_iteration(C, 1)
    # rank-1 deflation, cell-wise c − ((nrm·vᵢ)·vⱼ): np.outer(nrm1·v1, v1)
    # is that left-associated IEEE product chain per cell, the oracle's
    # cov2 expression on bit-identical operands
    (v2,), _ = _power_iteration(C - np.outer(nrm1 * v1, v1), 1)
    return _pca_project_rows(spark, sf_dir, [v1, v2]).select(
        "vec_id",
        rz("pc1", 6).alias("pc1"),
        rz("pc2", 6).alias("pc2"),
    )


# --------------------------------------------------------------------------
# q_emb_pca_k: k-component PCA via BLOCK power iteration — one joint
# matvec per round for ALL k columns + per-round Gram-Schmidt, instead
# of pca2's k serial deflation chains.
# --------------------------------------------------------------------------

_PCA_K = 4


def _pca_k_oracle() -> str:
    """DuckDB oracle for q_emb_pca_k: the shared covariance CTEs, then
    _PI_ITERS rounds of BLOCK power iteration — one matvec CTE per
    round covering all _PCA_K columns at once, then per-column
    Gram-Schmidt (quantized dot, single-IEEE-expression subtraction,
    quantized norm, 10⁻⁹ re-quantized normalize) in ascending column
    order — then all k per-vector projections. Column 0's CTEs are
    byte-equivalent per round to the q_emb_top_eigvec chain (no
    projections are ever subtracted from it), which is what pins
    pc1 ≡ q_emb_pca2.pc1 exactly. Every CTE is MATERIALIZED (the
    CC-oracle lesson: DuckDB inlines plain CTEs at each reference and
    an unrolled iteration chain explodes 3^n otherwise)."""
    k = _PCA_K
    parts = _eigvec_parts()[:1]  # ex/s/p/cov/d/v0 block only
    parts.append(
        f"""vv0 AS MATERIALIZED (
      SELECT pos, 0 AS bc, val FROM v0
      UNION ALL
      SELECT s.pos, cc.bc,
             CASE WHEN s.pos % {k} = cc.bc THEN 1.0 ELSE 0.0 END AS val
      FROM s CROSS JOIN
           (SELECT CAST(UNNEST(range(1, {k})) AS INT) AS bc) cc)"""
    )
    for t in range(_PI_ITERS):
        parts.append(
            f"""bw{t} AS MATERIALIZED (
      SELECT cov.i AS pos, v.bc,
             CAST(SUM(CAST(FLOOR(cov.c * v.val * {_PI_SCALE} + 0.5)
                           AS BIGINT)) AS DOUBLE) / {_PI_SCALE} AS w
      FROM cov JOIN vv{t} v ON v.pos = cov.j
      GROUP BY cov.i, v.bc)"""
        )
        for c in range(k):
            parts.append(
                f"""wc{t}_{c}_0 AS MATERIALIZED (
      SELECT pos, w FROM bw{t} WHERE bc = {c})"""
            )
            for b in range(c):
                parts.append(
                    f"""dt{t}_{c}_{b} AS MATERIALIZED (
      SELECT CAST(SUM(CAST(FLOOR(w.w * v.val * {_PI_SCALE} + 0.5)
                           AS BIGINT)) AS DOUBLE) / {_PI_SCALE} AS dot
      FROM wc{t}_{c}_{b} w JOIN fv{t}_{b} v ON v.pos = w.pos)"""
                )
                parts.append(
                    f"""wc{t}_{c}_{b + 1} AS MATERIALIZED (
      SELECT w.pos, w.w - d.dot * v.val AS w
      FROM wc{t}_{c}_{b} w
      JOIN fv{t}_{b} v ON v.pos = w.pos
      CROSS JOIN dt{t}_{c}_{b} d)"""
                )
            parts.append(
                f"""nm{t}_{c} AS MATERIALIZED (
      SELECT sqrt(CAST(SUM(CAST(FLOOR(w * w * {_PI_SCALE} + 0.5)
                               AS BIGINT)) AS DOUBLE) / {_PI_SCALE}) AS nrm
      FROM wc{t}_{c}_{c})"""
            )
            parts.append(
                f"""fv{t}_{c} AS MATERIALIZED (
      SELECT pos, CAST(FLOOR(w / nrm * {_COV_SCALE} + 0.5) AS DOUBLE)
                    / {_COV_SCALE} AS val
      FROM wc{t}_{c}_{c} CROSS JOIN nm{t}_{c})"""
            )
        union = " UNION ALL ".join(
            f"SELECT pos, {c} AS bc, val FROM fv{t}_{c}" for c in range(k)
        )
        parts.append(f"vv{t + 1} AS MATERIALIZED ({union})")
    last = _PI_ITERS - 1
    pc_cols = ", ".join(
        f"CAST(SUM(CAST(FLOOR(ex.x * a{c}.val * {_PI_SCALE} + 0.5)"
        f" AS BIGINT)) AS DOUBLE) / {_PI_SCALE} AS pc{c + 1}"
        for c in range(k)
    )
    pc_joins = " ".join(
        f"JOIN fv{last}_{c} a{c} ON a{c}.pos = ex.pos" for c in range(k)
    )
    parts.append(
        f"""projk AS MATERIALIZED (
      SELECT ex.vec_id, {pc_cols}
      FROM ex {pc_joins}
      GROUP BY ex.vec_id)"""
    )
    out = ", ".join(
        f"(round(pc{c + 1}, 6) + 0.0) AS pc{c + 1}" for c in range(k)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT vec_id, {out} FROM projk
    """
    )


def _block_pi_cols(C, k: int | None = None):
    """q_emb_pca_k's eigvecs: ``_power_iteration`` over ``k`` columns,
    ``k`` defaulting to ``_PCA_K`` read at call time (so the mutation
    pin binds). Returns the k arrays in pos order."""
    return _power_iteration(C, _PCA_K if k is None else k)[0]


@register("q_emb_pca_k", oracle=_pca_k_oracle())
def q_emb_pca_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-component PCA coordinates per vector (k = _PCA_K = 4) via
    BLOCK power iteration: one joint matvec for all k columns per round
    plus per-round Gram-Schmidt orthonormalization, the whole
    d·k-bounded iteration on the driver (``_block_pi_cols``), so k
    components cost no Spark job beyond the shared one-pass Gram
    build. Output (vec_id, pc1..pc{{k}}): the k-D corpus
    map behind drift dashboards and cluster scatter.

    Scale shape (100 TB): the corpus is touched exactly twice — the
    shared one-pass partial-Gram build (d²-bounded shuffle) and the
    per-vector projection (``_pca_project_rows`` — no vec_id shuffle).
    Iteration state is a (d·k)-row block; every GS dot/norm
    is a d-row reduction. Raising k grows only the d-bounded work.

    Determinism: the matvec/GS/normalize arithmetic is per-term
    int64-quantized with per-round 10⁻⁹ re-quantization
    (``_power_iteration``), mirrored CTE-for-CTE by the generated
    oracle, so both engines iterate on IDENTICAL blocks. Column 0
    never has projections subtracted — its rounds are byte-equivalent
    to the q_emb_top_eigvec chain, so pc1 here ≡ q_emb_pca2.pc1
    bit-for-bit (pinned in tests). Later columns converge to the same
    subspace as serial deflation but along a different (equally
    pinned) arithmetic path, so pc2 agrees with pca2 to iteration
    tolerance, not bit-exactly — the k=2 cross-check pins sign-aligned
    agreement. GS column order ascending; start block: v₀ plus pos ≡ c
    (mod k) indicator columns — deterministic and mirrored."""
    cols = _block_pi_cols(_build_cov(spark, sf_dir))
    return _pca_project_rows(spark, sf_dir, cols).select(
        "vec_id",
        *[rz(f"pc{c + 1}", 6).alias(f"pc{c + 1}") for c in range(len(cols))],
    )


# --------------------------------------------------------------------------
# q_sim_ivf_pq_rerank: IVFPQ + exact re-rank of the PQ top-R —
# the FAISS "refine" stage that closes the IVFPQ recall story (codes
# select candidates cheaply; full-precision vectors decide the final k).
# --------------------------------------------------------------------------


@register(
    "q_sim_ivf_pq_rerank",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    c AS ({_C_SQL}),
    {_PQ_SUBS_SQL},
    assign AS ({_ASSIGN_CTE}),
    p AS (SELECT vec_id AS probe_id, e AS pe,
                 sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum'))
                   AS pn
          FROM v WHERE {_PROBE_FILTER}),
    approx AS (
      SELECT p.probe_id, m.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY list_dot_product(p.pe, n.d)
                                         / (p.pn * n.nrm) DESC,
                                         m.vec_id ASC) AS rpq
      FROM p
      JOIN assign pa ON pa.vec_id = p.probe_id
      JOIN assign m  ON m.cid = pa.cid AND m.vec_id <> p.probe_id
      JOIN n         ON n.vec_id = m.vec_id),
    cand AS (SELECT probe_id, neighbor_id FROM approx
             WHERE rpq <= {_PQ_RERANK_R}),
    rescored AS (
      SELECT c.probe_id, c.neighbor_id,
             list_cosine_similarity(p.pe, nv.e) AS cos_raw,
             row_number() OVER (PARTITION BY c.probe_id
                                ORDER BY list_cosine_similarity(p.pe, nv.e)
                                         DESC, c.neighbor_id ASC) AS rank_pos
      FROM cand c
      JOIN p ON p.probe_id = c.probe_id
      JOIN v nv ON nv.vec_id = c.neighbor_id)
    SELECT probe_id, neighbor_id, (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM rescored WHERE rank_pos <= {_IVF_K}
    """,
)
def q_sim_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN pipeline in one plan — FAISS
    IVFPQ+refine: probe its coarse cell, rank the cell's members by
    asymmetric-PQ code distance (8-byte codes — the cheap pass), keep
    the top ``_PQ_RERANK_R``, then re-score ONLY those against the
    full-precision vectors and return the exact-cosine top
    ``_IVF_K``. The refine stage is what makes PQ's recall floor
    acceptable in production: the final ranking is exact over the
    candidate set, so PQ noise can only cost recall when the true
    neighbor falls outside the PQ top-R — and R is the knob.

    Scale shape (100 TB): identical index halves to q_sim_ivf_pq
    (broadcast centroids + broadcast codebook, both persist at
    production); the refine adds ONE more bounded join — R·|probes|
    candidate ids against the full-precision corpus — so the
    expensive vectors are fetched for R rows per probe, never the
    cell. This is exactly the I/O asymmetry FAISS's refine exploits:
    codes stay resident (8 B/vector), full vectors page in only for
    re-ranked candidates. Determinism: PQ ranking tie-breaks
    (code-distance, vec_id); the rescore is exact cosine with the
    q_sim_pq_rerank discipline; output rounds at 4dp through rz()."""
    v = _vecs(spark, sf_dir)
    c = _centroids(v)
    pairs = _cell_pairs(_probes(v), c, _ivf_assign(v, c), _pq_index(v), "d")
    aw = Window.partitionBy("probe_id").orderBy(
        F.col("cos_pq").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        pairs.select(
            "probe_id",
            "pe",
            "pn",
            "neighbor_id",
            _cosine_pre("pe", "d", "pn", "nrm").alias("cos_pq"),
        )
        .withColumn("rpq", F.row_number().over(aw))
        .where(F.col("rpq") <= _PQ_RERANK_R)
        .select("probe_id", "pe", "pn", "neighbor_id")
    )
    return _top_k(_rescore(cand, v), _IVF_K)


@register(
    "q_sim_ivf_recall",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    c AS ({_C_SQL}),
    assign AS ({_ASSIGN_CTE}),
    p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE {_PROBE_FILTER}),
    ivf AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT p.probe_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY list_cosine_similarity(p.pe, nv.e)
                                             DESC,
                                           n.vec_id ASC) AS rank_pos
        FROM p
        JOIN assign pa ON pa.vec_id = p.probe_id
        JOIN assign n  ON n.cid = pa.cid AND n.vec_id <> p.probe_id
        JOIN v nv      ON nv.vec_id = n.vec_id)
      WHERE rank_pos <= {_IVF_K}),
    exact AS (
      SELECT probe_id, neighbor_id FROM (
        SELECT p.probe_id, v.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.probe_id
                                  ORDER BY list_cosine_similarity(p.pe, v.e)
                                             DESC,
                                           v.vec_id ASC) AS rank_pos
        FROM p JOIN v ON v.vec_id <> p.probe_id)
      WHERE rank_pos <= {_IVF_K})
    SELECT exact.probe_id,
           CAST(COUNT(ivf.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           (round(COUNT(ivf.neighbor_id) / (1.0 * COUNT(*)), 4) + 0.0)
             AS recall
    FROM exact
    LEFT JOIN ivf ON ivf.probe_id = exact.probe_id
                 AND ivf.neighbor_id = exact.neighbor_id
    GROUP BY exact.probe_id
    """,
)
def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe RECALL audit of the IVF index against exact brute
    force — the number every ANN deployment tunes nprobe/K against,
    made a standing checked op (the q_dedup_lsh_recall pattern applied
    to the vector index): recall@{_IVF_K} = |ivf top-k ∩ exact top-k| /
    |exact top-k| per probe. Deliberately pays the exact all-pairs leg
    — probes are the bounded {_PROBE_FILTER} batch, so the audit costs
    O(|probes|·n), not O(n²); run it on a sampled probe set at corpus
    scale exactly as FAISS recall sweeps do. The IVF leg reuses the
    production search (same quantized assignment, same tie-breaks), so
    a recall regression from ANY index change — centroid drift, an
    assignment bug, a probe-routing bug — lands in this op's hash."""
    v = _vecs(spark, sf_dir)
    c = _centroids(v)
    exact = _top_k(_scan(_probes(v), v), _IVF_K)
    ivf = _ivf_top_k(_probes(v), c, _ivf_assign(v, c), v)
    return _recall(exact, ivf)


def _recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-probe recall of ``approx`` against ``exact`` (both top-k
    frames): ``(probe_id, n_hit, n_exact, recall)``, recall = hits /
    |exact| rounded to 4dp. Hit counts are exact integers, so only the
    one rounded ratio is floating point."""
    hit = approx.select("probe_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        exact.select("probe_id", "neighbor_id")
        .join(hit, ["probe_id", "neighbor_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                / (F.lit(1.0) * F.count(F.lit(1))),
                4,
            ).alias("recall"),
        )
    )


#: PSI drift-monitor geometry: fixed bin edges (data-INDEPENDENT — the
#: portable choice: quantile edges would make bin membership depend on
#: a cross-engine sort) and Laplace add-1 smoothing so empty bins stay
#: finite. Runtime-read (mutation-pinned).
_PSI_BINS = 10
_PSI_LO = -0.4
_PSI_STEP = 0.08


@register(
    "q_emb_drift_psi",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    f AS (SELECT vec_id % 2 AS side,
                 LEAST(GREATEST(CAST(FLOOR((e[1] - ({_PSI_LO}))
                                           / {_PSI_STEP}) AS BIGINT),
                                0), {_PSI_BINS - 1}) AS bin
          FROM v),
    cells AS (
      SELECT bin,
             CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ref,
             CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cur
      FROM f GROUP BY bin),
    tot AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS t_ref,
                   CAST(SUM(n_cur) AS DOUBLE) AS t_cur
            FROM cells)
    SELECT bin, n_ref, n_cur,
           (round((n_ref + 1) / (t_ref + {_PSI_BINS}), 6) + 0.0) AS p_ref,
           (round((n_cur + 1) / (t_cur + {_PSI_BINS}), 6) + 0.0) AS p_cur,
           (round(((n_cur + 1) / (t_cur + {_PSI_BINS})
                   - (n_ref + 1) / (t_ref + {_PSI_BINS}))
                  * ln(((n_cur + 1) / (t_cur + {_PSI_BINS}))
                       / ((n_ref + 1) / (t_ref + {_PSI_BINS}))), 6)
            + 0.0) AS psi_term
    FROM cells CROSS JOIN tot
    """,
)
def q_emb_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution DRIFT monitor — the population stability
    index (PSI), the standard production check that a new data slice
    still looks like the reference before it enters training or an
    index: histogram a per-vector scalar (here the first embedding
    component; norms are unit by construction) over FIXED bins for the
    reference and current slices (vec_id parity — at deployment the
    two sides are "yesterday's corpus" vs "today's batch"), Laplace-
    smooth, and emit each bin's PSI term (p_cur − p_ref)·ln(p_cur/
    p_ref); Σ terms < 0.1 is the conventional no-drift verdict, > 0.25
    the alarm.

    Scale shape (100 TB): ONE pass — project the scalar, bin by fixed
    edges (no quantile sort, no cross-slice join), and a single
    groupBy over ≤{_PSI_BINS} bins with conditional partial counts
    (map-side combine collapses every task to the bin set); the
    smoothing/log algebra runs on the {_PSI_BINS}-row result.
    Determinism: fixed edges mean bin membership is one identical
    float expression on both engines; counts are exact integers; the
    per-bin float algebra is single IEEE ops on identical inputs plus
    the accepted-ulp ln."""
    v = _vecs(spark, sf_dir)
    bin_col = F.least(
        F.greatest(
            F.floor(
                (F.element_at("e", 1) - F.lit(_PSI_LO)) / F.lit(_PSI_STEP)
            ).cast("bigint"),
            F.lit(0),
        ),
        F.lit(_PSI_BINS - 1),
    )
    cells = (
        v.select((F.col("vec_id") % 2).alias("side"), bin_col.alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_ref"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_cur"),
        )
    )
    tot = cells.agg(
        F.sum("n_ref").cast("double").alias("t_ref"),
        F.sum("n_cur").cast("double").alias("t_cur"),
    )
    b = float(_PSI_BINS)
    p_ref = (F.col("n_ref") + 1) / (F.col("t_ref") + F.lit(b))
    p_cur = (F.col("n_cur") + 1) / (F.col("t_cur") + F.lit(b))
    return cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


#: binary-quantization geometry: the 64 sign bits pack into TWO 32-bit
#: halves stored as BIGINTs (one 64-bit word would need bit 63, whose
#: shifted value overflows signed int64 in portable SQL); Hamming ranks
#: a candidate set of _BQ_RERANK_R per probe, exact cosine reranks to
#: _K. Runtime-read (mutation-pinned in tests/test_oracle_sensitivity).
_BQ_RERANK_R = 20

#: sign-bit word CTE shared by the oracle: DuckDB's positional zip of
#: two unnests (the q_emb_centroid idiom) explodes (pos, x); each half
#: sums DISTINCT powers of two, so SUM ≡ bitwise OR and the word is an
#: exact integer — bit i of w0/w1 set iff e[i]/e[32+i] > 0.
_BQ_W_SQL = (
    "SELECT vec_id, "
    "CAST(SUM(CASE WHEN x > 0 AND pos < 32 "
    "THEN (CAST(1 AS BIGINT) << CAST(pos AS INT)) ELSE 0 END) AS BIGINT)"
    " AS w0, "
    "CAST(SUM(CASE WHEN x > 0 AND pos >= 32 "
    "THEN (CAST(1 AS BIGINT) << CAST(pos - 32 AS INT)) ELSE 0 END) AS"
    " BIGINT) AS w1 "
    "FROM (SELECT vec_id, unnest(range(0, len(e))) AS pos, unnest(e) AS x"
    " FROM v) GROUP BY vec_id"
)


@register(
    "q_sim_binary_hamming",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    w AS ({_BQ_W_SQL}),
    n AS (SELECT v.vec_id, v.e,
                 sqrt(list_aggregate(list_transform(v.e, x -> x * x),
                                     'sum')) AS nrm,
                 w.w0, w.w1
          FROM v JOIN w USING (vec_id)),
    p AS (SELECT vec_id AS probe_id, e AS pe, nrm AS pn,
                 w0 AS pw0, w1 AS pw1
          FROM n WHERE {_PROBE_FILTER}),
    h AS (SELECT p.probe_id, p.pe, p.pn,
                 n.vec_id AS neighbor_id, n.e AS ne, n.nrm AS nn,
                 CAST(bit_count(xor(n.w0, p.pw0))
                      + bit_count(xor(n.w1, p.pw1)) AS BIGINT) AS hamming
          FROM p JOIN n ON n.vec_id <> p.probe_id),
    cand AS (SELECT * FROM (
               SELECT *, row_number() OVER (PARTITION BY probe_id
                                            ORDER BY hamming ASC,
                                                     neighbor_id ASC)
                           AS hrank
               FROM h) WHERE hrank <= {_BQ_RERANK_R}),
    scored AS (SELECT probe_id, neighbor_id, hamming,
                      list_dot_product(pe, ne) / (pn * nn) AS cos_raw,
                      row_number() OVER (
                        PARTITION BY probe_id
                        ORDER BY list_dot_product(pe, ne) / (pn * nn) DESC,
                                 neighbor_id ASC) AS rank_pos
               FROM cand)
    SELECT probe_id, neighbor_id, hamming,
           (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_K}
    """,
)
def q_sim_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN — the FAISS-binary / sign-bit-sketch
    path: each vector collapses to its 64 sign bits (two BIGINT words,
    16 bytes vs 512 for the double vectors — a 32× memory cut), the
    candidate scan ranks by integer Hamming distance
    (XOR + popcount, whole-stage codegen, SIMD-friendly at the CPU
    level), and only the top-{_BQ_RERANK_R} candidates per probe pay
    the exact float cosine rerank that decides the reported
    top-{_K}.

    Scale shape (100 TB / 10B vectors): the sketch table is the thing
    that FITS — 10B × 16 B = 160 GB cluster-wide, memory-resident
    where the float corpus is not; the Hamming stage is one broadcast
    (bounded probes) × corpus scan with integer ops only, and the
    float rerank touches R·|probes| rows, not the corpus.

    Determinism: sign bits (x > 0 on the double cast) and Hamming
    distances are exact integers on both engines, so the candidate
    ranking cannot drift; the rerank reuses the house raw-double
    cosine ranking with vec_id tie-break (accepted-ulp class, 4dp
    display rounding)."""
    n = _bq_sketch(_vecs(spark, sf_dir))
    return _hamming_top_k(_sketch_pairs(n), "hamming")


def _bq_sketch(v: DataFrame) -> DataFrame:
    """``(vec_id, e, nrm, w0, w1)``: the 64 sign bits (x > 0) packed
    into two 32-bit words. Powers of two are distinct, so the integer
    sum is the bitwise OR and the words are exact on both engines."""

    def pack(lo: int) -> Column:
        # (x, i) -> i is the index within the 32-element slice
        return F.expr(
            f"aggregate(transform(slice(e, {lo}, 32), "
            "(x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), "
            "0L, (a, b) -> a + b)"
        )

    return v.select(
        "vec_id", "e", "nrm", pack(1).alias("w0"), pack(33).alias("w1")
    )


def _bq_probes(n: DataFrame) -> DataFrame:
    """The probe batch of a ``_bq_sketch`` frame, words as pw0/pw1."""
    return _probes(n, F.col("w0").alias("pw0"), F.col("w1").alias("pw1"))


def _hamming() -> Column:
    """Integer Hamming distance between a sketch and the probe's."""
    return (
        F.expr("bit_count(w0 ^ pw0) + bit_count(w1 ^ pw1)")
        .cast("bigint")
        .alias("hamming")
    )


def _sketch_pairs(n: DataFrame) -> DataFrame:
    """Flat sketch candidates: every probe against every other sketch,
    ``(probe_id, pe, pn, neighbor_id, ne, nn, hamming)``."""
    return (
        F.broadcast(_bq_probes(n))
        .join(n, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "pe",
            "pn",
            F.col("vec_id").alias("neighbor_id"),
            F.col("e").alias("ne"),
            F.col("nrm").alias("nn"),
            _hamming(),
        )
    )


def _hamming_top_k(pairs: DataFrame, *carry) -> DataFrame:
    """The binary-index search: keep each probe's ``_BQ_RERANK_R``
    nearest candidates by Hamming distance (neighbor_id asc on ties),
    rerank those by exact cosine, and cut at ``_K`` (``_top_k``).
    ``pairs`` is ``(probe_id, pe, pn, neighbor_id, ne, nn, hamming)``.
    Only R rows per probe pay the float cosine."""
    hw = Window.partitionBy("probe_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    scored = (
        pairs.withColumn("hrank", F.row_number().over(hw))
        .where(F.col("hrank") <= _BQ_RERANK_R)
        .select(
            "probe_id",
            "neighbor_id",
            *carry,
            _cosine_pre("pe", "ne", "pn", "nn").alias("cos_raw"),
        )
    )
    return _top_k(scored, _K, *carry)


#: Matryoshka-truncation audit geometry: rank with only the first
#: _MRL_DIM of the 64 dims (half — the standard MRL serving cut).
#: Runtime-read (mutation-pinned in tests/test_oracle_sensitivity).
_MRL_DIM = 32


@register(
    "q_emb_mrl_recall",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    t AS (SELECT vec_id, e, e[1:{_MRL_DIM}] AS te,
                 sqrt(list_aggregate(list_transform(e, x -> x * x),
                                     'sum')) AS nrm,
                 sqrt(list_aggregate(list_transform(e[1:{_MRL_DIM}],
                                                    x -> x * x),
                                     'sum')) AS tn
          FROM v
          WHERE list_aggregate(list_transform(e[1:{_MRL_DIM}],
                                              x -> x * x), 'sum') > 0),
    p AS (SELECT vec_id AS probe_id, e AS pe, te AS pte,
                 nrm AS pn, tn AS ptn
          FROM t WHERE {_PROBE_FILTER}),
    full_k AS (SELECT probe_id, neighbor_id FROM (
        SELECT p.probe_id, t.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY list_dot_product(p.pe, t.e) / (p.pn * t.nrm)
                            DESC,
                          t.vec_id ASC) AS r
        FROM p JOIN t ON t.vec_id <> p.probe_id) WHERE r <= {_K}),
    trunc_k AS (SELECT probe_id, neighbor_id FROM (
        SELECT p.probe_id, t.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY list_dot_product(p.pte, t.te) / (p.ptn * t.tn)
                            DESC,
                          t.vec_id ASC) AS r
        FROM p JOIN t ON t.vec_id <> p.probe_id) WHERE r <= {_K})
    SELECT full_k.probe_id,
           CAST(COUNT(trunc_k.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           (round(COUNT(trunc_k.neighbor_id) / (1.0 * COUNT(*)), 4)
            + 0.0) AS recall
    FROM full_k
    LEFT JOIN trunc_k ON trunc_k.probe_id = full_k.probe_id
                     AND trunc_k.neighbor_id = full_k.neighbor_id
    GROUP BY full_k.probe_id
    """,
)
def q_emb_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation RECALL audit (the Matryoshka/MRL serving
    question, Kusupati et al. 2022): rank neighbors using only the
    first {_MRL_DIM} of 64 dims and measure per-probe recall@{_K}
    against the full-dimension exact top-k — the number that decides
    whether a prefix-truncated index (a dim-fraction memory and FLOP
    cut with NO re-embedding) can serve first-stage retrieval. On
    MRL-trained embeddings the prefix carries most of the signal; on
    these isotropic synthetic vectors it does not — either way the
    audit is the deliverable, exactly like q_sim_ivf_recall's nprobe
    sweep.

    Scale shape (100 TB): both legs are the bounded-probe broadcast ×
    one corpus scan (O(|probes|·n), never O(n²)); the truncated leg's
    per-pair dot is half the FLOPs of the exact leg, and at
    deployment the truncated index READS half the bytes
    (column-pruned prefix slices).

    Determinism: both rankings are raw-double cosines with vec_id
    tie-breaks (house accepted-ulp class); the recall arithmetic is
    exact integer counts and one 4dp-rounded ratio."""
    v = _vecs(spark, sf_dir)
    t = (
        v.select(
            "vec_id",
            "e",
            "nrm",
            F.expr(f"slice(e, 1, {_MRL_DIM})").alias("te"),
        )
        .withColumn(
            "tn",
            F.sqrt(
                F.aggregate(F.col("te"), F.lit(0.0), lambda a, x: a + x * x)
            ),
        )
        .where(F.col("tn") > 0.0)
    )
    p = _probes(t, F.col("te").alias("pte"), F.col("tn").alias("ptn"))
    full_k = _top_k(_scan(p, t), _K)
    trunc_k = _top_k(_scan(p, t, _cosine_pre("pte", "te", "ptn", "tn")), _K)
    return _recall(full_k, trunc_k)


@register(
    "q_emb_centroid_classify",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    vn AS (SELECT vec_id, label, e,
                  sqrt(list_aggregate(list_transform(e, x -> x * x),
                                      'sum')) AS nrm
           FROM v),
    ex AS (SELECT label, unnest(range(0, len(e))) AS pos, unnest(e) AS x
           FROM v),
    cent AS (SELECT label, CAST(pos AS INT) AS pos,
                    (round(CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT))
                                AS DOUBLE) / (1e6 * COUNT(*)), 6) + 0.0)
                      AS cv
             FROM ex GROUP BY label, pos),
    cl AS (SELECT label AS clabel, list(cv ORDER BY pos) AS ce
           FROM cent GROUP BY label),
    cl2 AS (SELECT clabel, ce,
                   sqrt(list_aggregate(list_transform(ce, c -> c * c),
                                       'sum')) AS cn
            FROM cl),
    scored AS (
      SELECT vn.vec_id, vn.label, c.clabel,
             list_dot_product(vn.e, c.ce) / (vn.nrm * c.cn) AS cos_raw,
             row_number() OVER (
               PARTITION BY vn.vec_id
               ORDER BY list_dot_product(vn.e, c.ce) / (vn.nrm * c.cn)
                          DESC,
                        c.clabel ASC) AS rnk
      FROM vn CROSS JOIN cl2 c)
    SELECT vec_id, label AS true_label, clabel AS pred_label,
           (round(cos_raw, 4) + 0.0) AS cosine,
           label = clabel AS correct
    FROM scored WHERE rnk = 1
    """,
)
def q_emb_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification — the PRODUCTION
    counterpart of q_knn_label: the per-label mean embeddings
    (q_emb_centroid's quantized prototypes) become the model, and each
    vector scores against L centroids instead of n neighbors — O(L)
    per vector where kNN pays O(n), the difference between a model
    that classifies 10B vectors in one scan and one that cannot.

    Scale shape (100 TB): the centroid build is one (label, pos)
    two-phase aggregate (shuffle carries |labels|·dim partial sums);
    the L-row model collapses to ONE sorted array row broadcast to the
    corpus scan, and the argmax runs ENTIRELY IN-ROW (the PQ-encode
    pattern: transform computes each centroid's cosine once, then a
    fold keeps the best) —
    zero joins, zero windows, zero shuffles on the corpus side.

    Determinism: centroid components are the quantized exact means
    (identical 6dp doubles on both engines); cosines are raw-double
    ranks with the label tie-break (accepted-ulp class; the fold's
    strict > keeps the lowest label on ties, matching the oracle's
    DESC/ASC order)."""
    v = _vecs(spark, sf_dir)
    ex = v.select("label", F.posexplode("e").alias("pos", "x"))
    raw = F.sum(_scaled(F.col("x"))).cast("double") / (
        F.lit(float(_SCALE)) * F.count(F.lit(1))
    )
    cent = ex.groupBy(
        "label", F.col("pos").cast("int").alias("pos")
    ).agg(rz(raw, 6).alias("cv"))
    cl = (
        cent.groupBy(F.col("label").alias("clabel"))
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(pos, cv))),"
                " s -> s.cv)"
            ).alias("ce")
        )
        .withColumn(
            "cn",
            F.sqrt(
                F.aggregate(F.col("ce"), F.lit(0.0), lambda a, c: a + c * c)
            ),
        )
    )
    book = cl.agg(
        F.expr("sort_array(collect_list(struct(clabel, ce, cn)))").alias(
            "cb"
        )
    )
    scored = (
        "transform(cb, c -> struct("
        "aggregate(zip_with(e, c.ce, (a, b) -> a * b), 0D,"
        " (s, t) -> s + t) / (nrm * c.cn) AS cos,"
        " c.clabel AS clabel))"
    )
    best = (
        f"aggregate({scored}, "
        "struct(cast(-2.0 as double) AS cos, cast(-1 as int) AS clabel), "
        "(acc, s) -> IF(s.cos > acc.cos, s, acc))"
    )
    # bind the fold result ONCE per row (three inline f"{best}" copies
    # would re-run the whole L-centroid argmax per output column)
    return (
        v.crossJoin(F.broadcast(book))
        .select("vec_id", "label", F.expr(best).alias("b"))
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            F.col("b.clabel").alias("pred_label"),
            rz(F.col("b.cos"), 4).alias("cosine"),
            (F.col("label") == F.col("b.clabel")).alias("correct"),
        )
    )



@register(
    "q_sim_binary_recall",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    w AS ({_BQ_W_SQL}),
    n AS (SELECT v.vec_id, v.e,
                 sqrt(list_aggregate(list_transform(v.e, x -> x * x),
                                     'sum')) AS nrm,
                 w.w0, w.w1
          FROM v JOIN w USING (vec_id)),
    p AS (SELECT vec_id AS probe_id, e AS pe, nrm AS pn,
                 w0 AS pw0, w1 AS pw1
          FROM n WHERE {_PROBE_FILTER}),
    h AS (SELECT p.probe_id, p.pe, p.pn,
                 n.vec_id AS neighbor_id, n.e AS ne, n.nrm AS nn,
                 CAST(bit_count(xor(n.w0, p.pw0))
                      + bit_count(xor(n.w1, p.pw1)) AS BIGINT) AS hamming
          FROM p JOIN n ON n.vec_id <> p.probe_id),
    cand AS (SELECT * FROM (
               SELECT *, row_number() OVER (PARTITION BY probe_id
                                            ORDER BY hamming ASC,
                                                     neighbor_id ASC)
                           AS hrank
               FROM h) WHERE hrank <= {_BQ_RERANK_R}),
    sketch_k AS (SELECT probe_id, neighbor_id FROM (
        SELECT probe_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY probe_id
                 ORDER BY list_dot_product(pe, ne) / (pn * nn) DESC,
                          neighbor_id ASC) AS rank_pos
        FROM cand) WHERE rank_pos <= {_K}),
    exact_k AS (SELECT probe_id, neighbor_id FROM (
        SELECT p.probe_id, n.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY list_dot_product(p.pe, n.e) / (p.pn * n.nrm)
                            DESC,
                          n.vec_id ASC) AS rank_pos
        FROM p JOIN n ON n.vec_id <> p.probe_id) WHERE rank_pos <= {_K})
    SELECT exact_k.probe_id,
           CAST(COUNT(sketch_k.neighbor_id) AS BIGINT) AS n_hit,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           (round(COUNT(sketch_k.neighbor_id) / (1.0 * COUNT(*)), 4)
            + 0.0) AS recall
    FROM exact_k
    LEFT JOIN sketch_k ON sketch_k.probe_id = exact_k.probe_id
                      AND sketch_k.neighbor_id = exact_k.neighbor_id
    GROUP BY exact_k.probe_id
    """,
)
def q_sim_binary_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe RECALL audit of the binary-quantization index against
    exact brute force — q_sim_ivf_recall's pattern applied to the
    sign-bit sketch: recall@{_K} = |sketch top-k ∩ exact top-k| /
    |exact top-k| per probe, where the sketch leg reuses the FULL
    production path (packing, integer Hamming candidate ranking,
    R={_BQ_RERANK_R} rerank — same tie-breaks), so any regression in
    the packing or the candidate cut lands in this op's hash, not just
    in a one-off test measurement. Deliberately pays the exact
    all-pairs leg over the bounded probe batch (O(|probes|·n), the
    standing audit-cost rule)."""
    n = _bq_sketch(_vecs(spark, sf_dir))
    exact_k = _top_k(_scan(_bq_probes(n), n), _K)
    return _recall(exact_k, _hamming_top_k(_sketch_pairs(n)))


#: pigeonhole bucket geometry for the BUCKETED sign-bit search: the 64
#: sketch bits split into _BQ_NBLOCKS equal blocks (width 64/_BQ_NBLOCKS;
#: must divide 32 so no block straddles the two packed words). A
#: candidate must share at least ONE whole block with the probe — the
#: SimHash pigeonhole cover (dedup.py q_dedup_simhash) applied to the
#: ANN index: sound for Hamming < _BQ_NBLOCKS, a recall/cost dial above
#: it. 8 blocks of 8 bits (not 4×16): on near-uniform sign bits a
#: 16-bit block collides at ~n²/2¹⁶ — vacuously sparse at the shipped
#: corpus sizes (1 candidate pair at sf0.1) — while 8-bit buckets give
#: every probe a real candidate list to rank, and the wider pigeonhole
#: cover (sound to Hamming 7) is the better recall point for retrieval.
#: Runtime-read (mutation-pinned in tests/test_oracle_sensitivity).
_BQ_NBLOCKS = 8

#: import-time block width/mask for the oracle literals; the Spark body
#: re-derives both from _BQ_NBLOCKS at call time (the _EWMA_BETA rule:
#: derived constants may never desynchronize under a runtime mutation).
_BQ_BLOCK_W = 64 // _BQ_NBLOCKS
_BQ_BLOCK_MASK = (1 << _BQ_BLOCK_W) - 1


@register(
    "q_sim_binary_bucketed",
    oracle=f"""
    WITH v AS ({_V_SQL}),
    w AS ({_BQ_W_SQL}),
    n AS (SELECT v.vec_id, v.e,
                 sqrt(list_aggregate(list_transform(v.e, x -> x * x),
                                     'sum')) AS nrm,
                 w.w0, w.w1
          FROM v JOIN w USING (vec_id)),
    p AS (SELECT vec_id AS probe_id, e AS pe, nrm AS pn,
                 w0 AS pw0, w1 AS pw1
          FROM n WHERE {_PROBE_FILTER}),
    nb AS (SELECT vec_id, r.blk,
                  ((CASE WHEN r.blk * {_BQ_BLOCK_W} < 32 THEN w0 ELSE w1
                    END)
                   >> CAST((r.blk * {_BQ_BLOCK_W}) % 32 AS INT))
                    & {_BQ_BLOCK_MASK} AS bval
           FROM n, range(0, {_BQ_NBLOCKS}) r(blk)),
    pb AS (SELECT probe_id, r.blk,
                  ((CASE WHEN r.blk * {_BQ_BLOCK_W} < 32 THEN pw0 ELSE pw1
                    END)
                   >> CAST((r.blk * {_BQ_BLOCK_W}) % 32 AS INT))
                    & {_BQ_BLOCK_MASK} AS bval
           FROM p, range(0, {_BQ_NBLOCKS}) r(blk)),
    cand0 AS (SELECT DISTINCT pb.probe_id, nb.vec_id AS neighbor_id
              FROM pb JOIN nb ON nb.blk = pb.blk AND nb.bval = pb.bval
                             AND nb.vec_id <> pb.probe_id),
    h AS (SELECT c.probe_id, p.pe, p.pn,
                 c.neighbor_id, n.e AS ne, n.nrm AS nn,
                 CAST(bit_count(xor(n.w0, p.pw0))
                      + bit_count(xor(n.w1, p.pw1)) AS BIGINT) AS hamming
          FROM cand0 c
          JOIN n ON n.vec_id = c.neighbor_id
          JOIN p ON p.probe_id = c.probe_id),
    cand AS (SELECT * FROM (
               SELECT *, row_number() OVER (PARTITION BY probe_id
                                            ORDER BY hamming ASC,
                                                     neighbor_id ASC)
                           AS hrank
               FROM h) WHERE hrank <= {_BQ_RERANK_R}),
    scored AS (SELECT probe_id, neighbor_id, hamming,
                      list_dot_product(pe, ne) / (pn * nn) AS cos_raw,
                      row_number() OVER (
                        PARTITION BY probe_id
                        ORDER BY list_dot_product(pe, ne) / (pn * nn) DESC,
                                 neighbor_id ASC) AS rank_pos
               FROM cand)
    SELECT probe_id, neighbor_id, hamming,
           (round(cos_raw, 4) + 0.0) AS cosine, rank_pos
    FROM scored WHERE rank_pos <= {_K}
    """,
)
def q_sim_binary_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed binary ANN — the pigeonhole-blocked SEARCH leg for the
    sign-bit index: the 64-bit sketch splits into
    {_BQ_NBLOCKS} blocks of {_BQ_BLOCK_W} bits and candidate generation
    becomes an EQUI join on (block, value) — exactly the Hamming block
    decomposition proven in the SimHash dedup family
    (dedup.py q_dedup_simhash), applied to retrieval. Only bucket-mates
    (≥1 bit-identical block with the probe) ever reach the Hamming
    ranking; the flat twin q_sim_binary_hamming stays registered as the
    exact audit baseline and q_sim_binary_recall prices the sketch's
    recall against exact float search.

    Scale shape (100 TB / 10B vectors): the flat twin's candidate stage
    is a probe×corpus nested-loop scan — O(P·N) XOR+popcounts, rescanned
    per probe batch. Here the corpus sketch table is read ONCE into an
    exploded ({_BQ_NBLOCKS}·N)-row bucket table of 16-byte keys, the
    bounded probe blocks broadcast, and the candidate stage is a
    BroadcastHashJoin on (blk, bval): work is proportional to actual
    bucket collisions (expected N·P/2^{_BQ_BLOCK_W} per block under
    uniform bits — a ~2^{_BQ_BLOCK_W}/{_BQ_NBLOCKS}× cut), not to P·N.
    The whole plan is equi-joins: no CartesianProduct, no
    BroadcastNestedLoopJoin anywhere (plan-pinned in tests/test_plans).
    Pair dedup (a pair can collide in up to {_BQ_NBLOCKS} blocks) is a
    DISTINCT on the (probe, neighbor) key, shuffled on ids, then
    rebalanced so the per-pair Hamming+cosine work keeps full
    parallelism (the simhash candidate idiom).

    Semantics/recall: NOT identical to the flat twin by design — a
    true Hamming-R-set member sharing no whole block with the probe is
    missed (sound only below Hamming {_BQ_NBLOCKS}); the oracle blocks
    the SAME way, so the hash gate pins the blocked semantics exactly
    while the SCALE.md row prices blocked-vs-flat cost and the recall
    op prices quality.

    Determinism: bucket values, collisions, and Hamming distances are
    exact integers on both engines; ranking ties break on neighbor_id;
    the rerank reuses the house raw-double cosine with 4dp display
    rounding (accepted-ulp class)."""
    n = _bq_sketch(_vecs(spark, sf_dir))
    # block geometry re-derived AT CALL TIME from _BQ_NBLOCKS (the
    # _EWMA_BETA rule): width and mask can never desynchronize from it.
    nb_blocks = int(_BQ_NBLOCKS)
    bw = 64 // nb_blocks
    mask = (1 << bw) - 1
    blks = F.explode(F.sequence(F.lit(0), F.lit(nb_blocks - 1))).alias("blk")
    corpus_blocks = n.select("vec_id", "w0", "w1", blks).select(
        "vec_id",
        "blk",
        F.expr(
            f"shiftright(IF(blk * {bw} < 32, w0, w1), (blk * {bw}) % 32)"
            f" & {mask}L"
        ).alias("bval"),
    )
    p = _bq_probes(n)
    probe_blocks = p.select("probe_id", "pw0", "pw1", blks).select(
        "probe_id",
        "blk",
        F.expr(
            f"shiftright(IF(blk * {bw} < 32, pw0, pw1), (blk * {bw}) % 32)"
            f" & {mask}L"
        ).alias("bval"),
    )
    cand0 = (
        F.broadcast(probe_blocks)
        .join(
            corpus_blocks,
            (probe_blocks.blk == corpus_blocks.blk)
            & (probe_blocks.bval == corpus_blocks.bval)
            & (corpus_blocks.vec_id != probe_blocks.probe_id),
        )
        .select("probe_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
        # collision-pair ids are few bytes → AQE coalesces the DISTINCT
        # to ~1 partition, but each row owes a Hamming + maybe a cosine —
        # rebalance so verification keeps full parallelism (see simhash).
        .repartition(spark.sparkContext.defaultParallelism)
    )
    pairs = (
        cand0.join(
            n.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("e").alias("ne"),
                F.col("nrm").alias("nn"),
                "w0",
                "w1",
            ),
            "neighbor_id",
        )
        .join(F.broadcast(p), "probe_id")
        .select("probe_id", "pe", "pn", "neighbor_id", "ne", "nn", _hamming())
    )
    return _hamming_top_k(pairs, "hamming")


#: the CDC-delta slice for incremental index maintenance: ~9% of the
#: corpus, deterministically DISJOINT from the frozen-quantizer inputs —
#: never a coarse centroid (_CENTROID_FILTER: vec_id % 50 = 7; ids
#: ≡ 1 mod 10 are ≡ 1/11/21/31/41 mod 50) and never a PQ codebook word
#: (_PQ_CB_FILTER: vec_id % 7 = 3, excluded explicitly). Production
#: IVFPQ freezes the coarse quantizer and codebook at train time and
#: applies deltas against them; a delta that touched a training vector
#: would require re-training, which is a REBUILD, not maintenance.
#: Runtime-read (mutation-pinned in tests/test_oracle_sensitivity: a
#: delta over centroid ids breaks the frozen-quantizer premise and goes
#: hash-red against the full-rebuild oracle).
_IDX_DELTA_FILTER = "vec_id % 10 = 1 AND vec_id % 7 <> 3"

#: the "before image" of an updated vector in the synthetic CDC log: a
#: cyclic rotation by one position — same L2 norm (so zero-norm
#: membership is unchanged), same value distribution, but a different
#: direction, so updates genuinely MOVE between cells and change codes.
_IDX_OLD_IMAGE = "concat(slice(e, 2, size(e) - 1), slice(e, 1, 1))"


@register("q_sim_ivf_pq_cdc", oracle=_IVF_PQ_ORACLE)
def q_sim_ivf_pq_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the persisted IVFPQ index — the
    operation a standing 100 TB deployment runs
    daily: apply a CDC update batch to the partitioned index by
    touching only the delta and its cells, then prove the maintained
    index answers queries BIT-IDENTICALLY to a full rebuild (this op
    shares q_sim_ivf_pq's oracle — the full-corpus ground truth — so
    one stale code or cell row anywhere goes hash-red).

    Layout: unlike q_sim_ivf_pq_persisted's split assign/ + codes/
    artifacts, the maintained index stores codes WITH their cell —
    ``members/`` = (vec_id, m, code_id) partitionBy(cid), the FAISS
    inverted-list-with-codes layout — BECAUSE incremental maintenance
    is per-cell: an update rewrites its old and new cell partitions and
    nothing else (codes keyed only by vec_id would force a corpus-wide
    rewrite). ``codebook/`` stays a constant-size frozen artifact.

    The apply leg, every step proportional to the DELTA, never the
    corpus:
    1. coarse-assign + PQ-encode ONLY the delta's after-images, plus
       coarse-assign the before-images (the CDC log carries both) —
       all map-side against the frozen broadcast quantizer halves
       (_ivf_assign / _pq_encode), O(|delta|·K);
    2. affected cells = distinct old ∪ new cids — a scalar collect
       bounded by the centroid count K, never by |delta| or corpus;
    3. partition-PRUNED read of members/ for affected cells only
       (plan-pinned: the scan's PartitionFilters carry cid), anti-join
       out the delta's vec_ids, union the re-encoded delta rows;
    4. dynamic partition overwrite (partitionOverwriteMode=dynamic)
       rewrites exactly the affected cell partitions; untouched cells'
       files are left byte-identical on disk (unit-pinned via file
       mtimes+sizes). A cell EMPTIED by the delta cannot be expressed
       as an overwrite (no rows to write) — its directory is dropped
       explicitly via the Hadoop FS API, the same operation the
       production maintenance job runs.
    The staged intermediate (affected cells only — delta-sized) exists
    because Spark refuses to overwrite a path that is concurrently a
    read source; production maintenance stages the same way.

    The query leg then reads members/ back and runs the exact
    q_sim_ivf_pq plan (cell equi-join + asymmetric-PQ top-k); the
    base-corpus artifacts for unchanged ids are bit-identical to a
    full rebuild's by construction (frozen quantizer + deterministic
    integer-quantized argmins — the determinism contract every IVFPQ
    op here shares), so maintained ≡ rebuilt holds exactly, and the
    shared oracle checks it."""
    v = _vecs(spark, sf_dir)
    old = _ivfpq_cdc_old_corpus(v)
    # FROZEN quantizer halves: trained on the DAY-0 corpus — the index
    # existed before the delta arrived, and maintenance never retrains.
    # maintained ≡ rebuilt (the shared full-corpus oracle) therefore
    # requires the delta to be disjoint from the training ids, which
    # _IDX_DELTA_FILTER guarantees — and whose violation the mutation
    # pin proves hash-red.
    #
    # the centroid table collects and the codebook builds ONCE for the
    # base build and both delta legs; the one-row codebook is
    # checkpointed so each encode leg reuses it.
    c = _centroids(old)
    cent_rows = _collect_centroids(c)
    sub_cb, cb_row = _pq_codebook(old)
    cb_row = ckpt(cb_row)
    path = _ivfpq_cdc_base_build(
        spark, old, cent_rows, sf_dir, sub_cb=sub_cb, cb_row=cb_row
    )
    _ivfpq_cdc_apply(spark, v, cent_rows, cb_row, path)
    return _ivfpq_cdc_query_leg(spark, v, c, path)


def _ivfpq_cdc_old_corpus(v: DataFrame) -> DataFrame:
    """The day-0 corpus: updated ids carry their before-image
    (_IDX_OLD_IMAGE), everything else the current vector; nrm is
    recomputed on the old image (rotation preserves the summand set,
    so membership in the zero-norm filter is unchanged)."""
    return (
        v.select(
            "vec_id",
            F.when(F.expr(_IDX_DELTA_FILTER), F.expr(_IDX_OLD_IMAGE))
            .otherwise(F.col("e"))
            .alias("e"),
        )
        .withColumn(
            "nrm",
            F.sqrt(
                F.aggregate(F.col("e"), F.lit(0.0), lambda a, x: a + x * x)
            ),
        )
        .where(F.col("nrm") > 0.0)
    )


def _ivfpq_cdc_base_build(
    spark: SparkSession,
    old: DataFrame,
    c: DataFrame | list,
    sf_dir: str,
    sub_cb: DataFrame | None = None,
    cb_row: DataFrame | None = None,
) -> str:
    """Day-0 BASE index for the CDC op, built FROM the day-0 corpus
    with its frozen quantizer, written in the inverted-list-with-codes
    layout (members/ partitionBy(cid) + codebook/). Amortized in
    production; split out so tests can snapshot the on-disk state
    between base build and delta apply. ``sub_cb``/``cb_row`` may be
    passed in so the op body computes the codebook once for all three
    legs; omitted, they build here (the test surface)."""
    if sub_cb is None or cb_row is None:
        sub_cb, cb_row = _pq_codebook(old)
    path = _ivf_index_path(sf_dir)
    _write_cells(
        _pq_encode(old.select("vec_id", "e"), cb_row).join(
            _ivf_assign(old, c), "vec_id"
        ),
        f"{path}/members",
    )
    sub_cb.write.mode("overwrite").parquet(f"{path}/codebook")
    return path


def _ivfpq_cdc_apply(
    spark: SparkSession,
    v: DataFrame,
    c: DataFrame,
    cb_row: DataFrame,
    path: str,
) -> list[int]:
    """The delta-APPLY leg (steps 1-4 of the op docstring): returns
    the affected cell list so tests can pin the touched-partition
    set against the on-disk files."""
    # the CDC log: op='U' rows carrying before+after images.
    # the delta frame feeds four consumers (two assigns, the encode,
    # the anti-join) and the new-assign feeds two actions (affected-cell
    # collect + stage write): materialize each once, delta-sized.
    delta = ckpt(
        v.where(_IDX_DELTA_FILTER).select(
            "vec_id",
            F.expr(_IDX_OLD_IMAGE).alias("e_old"),
            F.col("e").alias("e_new"),
        )
    )
    d_old = _ivf_assign(delta.select("vec_id", F.col("e_old").alias("e")), c)
    d_new_assign = ckpt(
        _ivf_assign(delta.select("vec_id", F.col("e_new").alias("e")), c)
    )
    d_new_codes = _pq_encode(
        delta.select("vec_id", F.col("e_new").alias("e")), cb_row
    )
    # scalar-bounded: ≤ 2·K cell ids, never corpus- or delta-sized
    affected = sorted(
        {r["cid"] for r in d_old.select("cid").distinct().collect()}
        | {r["cid"] for r in d_new_assign.select("cid").distinct().collect()}
    )

    survivors = (
        _read_cells(spark, f"{path}/members", _CODES_COLS)
        .where(F.col("cid").isin(affected))
        .join(delta.select("vec_id"), "vec_id", "left_anti")
    )
    updated = survivors.unionByName(d_new_codes.join(d_new_assign, "vec_id"))
    # stage the delta-sized replacement content (Spark cannot overwrite
    # a currently-read path), then dynamic-overwrite ONLY those cells
    updated.repartition("cid").write.mode("overwrite").parquet(
        f"{path}/stage"
    )
    staged = read_written(spark, f"{path}/stage", updated.schema)
    prior_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        _write_cells(staged, f"{path}/members")
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prior_mode
        )
    # a cell emptied by the delta has no rows in `staged`, so dynamic
    # overwrite cannot touch it — drop its directory explicitly
    present = {r["cid"] for r in staged.select("cid").distinct().collect()}
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        spark._jsc.hadoopConfiguration()
    )
    for cid in affected:
        if cid not in present:
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                f"{path}/members/cid={cid}"
            ), True)
    return [int(x) for x in affected]


def _ivfpq_cdc_query_leg(
    spark: SparkSession, v: DataFrame, c: DataFrame, path: str
) -> DataFrame:
    """QUERY leg against the maintained inverted-list-with-codes index:
    the exact q_sim_ivf_pq plan over the members/ read-back."""
    mem = _read_cells(spark, f"{path}/members", _CODES_COLS)
    # every vector owns exactly one cell and _PQ_M code rows, so the
    # m=0 slice IS the assignment table — no distinct shuffle needed
    assign = mem.where(F.col("m") == 0).select("vec_id", "cid")
    npq = _pq_decode(
        mem.select("vec_id", "m", "code_id"),
        read_written(spark, f"{path}/codebook", _CODEBOOK_COLS),
    )
    return _ivf_top_k(_probes(v), c, assign, npq, "d")
